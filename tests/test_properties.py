"""Property tests for operators whose output is not oracle-hashable:
Spark-internal hashes (SimHash), HyperLogLog estimates, seeded
sampling, randomSplit. These pin the semantic guarantees the DuckDB
oracle can't."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_exercise_spark.dedup import simhash
from big_data_exercise_spark.operators import sampling
from big_data_exercise_spark.operators.aggregations import count_distinct_users
from big_data_exercise_spark.operators.scalars import seeded_sample
from big_data_exercise_spark.tables import load_table
from tests.conftest import SF_DIR


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_identical_texts_distance_zero(spark):
    """Exact duplicates must collide at Hamming distance 0 — the
    defining property of a content hash."""
    docs = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "a completely different document about spark joins"),
        ],
    )
    pairs = {
        (r.id1, r.id2): r.distance
        for r in simhash.near_duplicates(docs, max_distance=3).collect()
    }
    assert pairs[(1, 2)] == 0

    # radii past the pigeonhole guarantee (BANDS−1) are rejected, not
    # silently served with partial recall (round-6 review finding)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_distance"):
        simhash.near_duplicates(docs, max_distance=64)


def test_simhash_small_perturbation_small_distance(spark):
    """One changed token out of ~20 flips few simhash bits (locality),
    while an unrelated text lands far away."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    perturbed = base.replace("kappa", "kappa2")
    unrelated = "one two three four five six seven eight nine ten"
    docs = _docs(spark, [(1, base), (2, perturbed), (3, unrelated)])
    sigs = {r.doc_id: r.simhash for r in simhash.simhash_signatures(docs).collect()}

    def dist(a, b):
        return bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")

    assert dist(1, 2) <= 12  # near-dup: few bits differ
    assert dist(1, 3) > dist(1, 2)  # unrelated is farther


def test_approx_count_distinct_within_rsd(spark):
    """HyperLogLog++ estimate lands within a loose 3×rsd band of the
    exact per-group count (default rsd = 5%)."""
    events = load_table(spark, SF_DIR, "events")
    exact = {r.event_type: r.n_users for r in count_distinct_users(events).collect()}
    approx = {
        r.event_type: r.n_users
        for r in count_distinct_users(events, approx=True).collect()
    }
    assert set(exact) == set(approx)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(2, 0.15 * n), (k, n, approx[k])


def test_seeded_sample_deterministic_and_sized(spark):
    events = load_table(spark, SF_DIR, "events").localCheckpoint(eager=True)
    s1 = set(r.event_id for r in seeded_sample(events, 0.1, seed=7).collect())
    s2 = set(r.event_id for r in seeded_sample(events, 0.1, seed=7).collect())
    assert s1 == s2  # same seed + same partitioning → same rows
    n = events.count()
    assert 0.04 * n <= len(s1) <= 0.18 * n  # Bernoulli(0.1) loose bounds


def test_random_split_partitions_rows(spark):
    """randomSplit must partition: every row in exactly one split."""
    events = load_table(spark, SF_DIR, "events").localCheckpoint(eager=True)
    a, b = events.randomSplit([0.8, 0.2], seed=42)
    na, nb, n = a.count(), b.count(), events.count()
    assert na + nb == n
    assert a.select("event_id").intersect(b.select("event_id")).count() == 0


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The partitioned IVF index must actually prune: the probe scan's
    plan carries a PartitionFilters entry on centroid_id and reads
    only the probed directories."""
    from big_data_exercise_spark.similarity import knn

    emb = load_table(spark, SF_DIR, "embeddings")
    index_dir = str(tmp_path / "ivf")
    knn.ivf_build(emb, index_dir)
    result = knn.ivf_topk_indexed(emb, index_dir)
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pruned = plan.split("PartitionFilters")[1].split("]")[0]
    assert "centroid_id" in pruned
    assert result.count() == 10


def test_kafka_plan_construction(spark):
    """The production Kafka source/sink builders must construct a plan
    (S1/S4 wiring); execution needs a broker, but plan analysis is the
    part that belongs to this engine."""
    from pyspark.sql import types as T
    from big_data_exercise_spark.streaming import pipelines as streams

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("review", T.StringType())]
    )
    try:
        df = streams.kafka_stream(spark, "localhost:9092", "absa-reviews", schema)
    except Exception as exc:
        # no kafka connector jar in this container — the builder still
        # must fail at DATA SOURCE resolution, not in our code
        assert "kafka" in str(exc).lower()
        return
    assert [f.name for f in df.schema.fields] == ["id", "review"]


def test_connected_components_merges_chains(spark):
    """Transitivity is the whole point: A-B and B-C land in one
    cluster even though A-C was never a pair; disconnected nodes stay
    their own singleton cluster."""
    from big_data_exercise_spark.dedup.cluster import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "node long")
    # chain 1-2-3-4 (via consecutive pairs), pair 5-6, singleton 7
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "src long, dst long"
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}


def test_connected_components_direction_invariant(spark):
    """Edge orientation must not matter: (hi, lo) edges produce the
    same min-label clusters as (lo, hi)."""
    from big_data_exercise_spark.dedup.cluster import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], "node long")
    edges = spark.createDataFrame([(4, 3), (3, 2), (2, 1)], "src long, dst long")
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def _planted_dup_corpus(spark, copies: int = 3, take: int = 12):
    """The documents table plus ``copies`` exact clones of ``take``
    docs under fresh ids — guarantees exact-dup clusters exist
    regardless of which SF_DIR the suite runs against (the synthetic
    corpus itself has virtually no exact-text duplicates, so edge-vs-
    report assertions that depend on collapsible clusters must plant
    them)."""
    docs = load_table(spark, SF_DIR, "documents")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    seed = docs.orderBy("doc_id").limit(take)
    out = docs
    for i in range(copies):
        out = out.unionByName(
            seed.withColumn(
                "doc_id", F.col("doc_id") + F.lit((mx + 1) * (i + 1))
            )
        )
    return out


def test_near_duplicate_edges_same_components(spark):
    """The closure feed (`near_duplicate_edges`: star edges per
    exact-dup clique + rep-level verified pairs) must produce the
    exact same (cluster_id, keep) verdicts as the full quadratic pair
    report — clique→star substitution is connectivity-preserving —
    while carrying strictly fewer rows on a dup-heavy corpus (Σk vs
    Σk², the 100 TB reason the edge form exists). The dup clusters
    are planted, so the strict row-count inequality is guaranteed by
    construction rather than by corpus luck."""
    from big_data_exercise_spark.dedup import cluster, minhash

    docs = _planted_dup_corpus(spark)
    pairs = minhash.near_duplicates(docs, use_vocab_ranks=True)
    edges = minhash.near_duplicate_edges(docs, use_vocab_ranks=True)
    via_pairs = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in cluster.dedup_cluster_assignment(docs, pairs).collect()
    }
    via_edges = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in cluster.dedup_cluster_assignment(docs, edges).collect()
    }
    assert via_edges == via_pairs
    assert edges.count() < pairs.count()


def test_prod_closure_parity_with_vocab_twin(spark):
    """`dedup_cluster_assignment_prod` (xxhash64 edge feed — no vocab
    pass, the 100 TB plan, benched first-class since round 8) vs the
    hash-checked vocab twin, on a planted-duplicate corpus:

    * every PLANTED exact-dup clique must land in one cluster with the
      source doc as the kept representative under BOTH modes — exact
      duplicates are found by the exact-dup collapse stage, which is
      hash-family-independent, so this parity is guaranteed by
      construction, not banding luck;
    * structural closure invariants hold on the prod output: one row
      per doc, cluster_id is the min member id, keep ⇔ doc_id ==
      cluster_id (exactly one representative per cluster)."""
    from big_data_exercise_spark.dedup import cluster, minhash

    base = load_table(spark, SF_DIR, "documents")
    mx = base.agg(F.max("doc_id")).collect()[0][0]
    copies, take = 3, 12
    docs = _planted_dup_corpus(spark, copies=copies, take=take)

    def closure(use_vocab: bool):
        edges = minhash.near_duplicate_edges(docs, use_vocab_ranks=use_vocab)
        return {
            r["doc_id"]: (r["cluster_id"], r["keep"])
            for r in cluster.dedup_cluster_assignment(docs, edges).collect()
        }

    prod, vocab = closure(False), closure(True)
    n_docs = docs.count()
    assert len(prod) == n_docs and len(vocab) == n_docs
    seed_ids = [
        r["doc_id"]
        for r in base.orderBy("doc_id").limit(take).select("doc_id").collect()
    ]
    for src in seed_ids:
        clones = [src] + [src + (mx + 1) * (i + 1) for i in range(copies)]
        want_cid = min(clones)
        for mode in (prod, vocab):
            cids = {mode[c][0] for c in clones if c in mode}
            assert len(cids) == 1, (src, mode is prod, cids)
            (cid,) = cids
            assert cid <= want_cid  # may merge wider via near-dups
            keeps = [c for c in clones if mode[c][1]]
            # the kept rep of the clique's cluster is the cluster_id
            # doc — a clone is kept only if it IS that doc
            assert all(mode[k][0] == k for k in keeps)
    # structural invariants on the full prod partition
    for d, (cid, keep) in prod.items():
        assert keep == (d == cid)
        assert prod.get(cid, (cid, True))[0] == cid  # rep maps to itself


def test_near_duplicate_edges_threshold_above_one(spark):
    """threshold > 1.0 excludes even exact duplicates from the pair
    report (`near_duplicates` returns only cross pairs, which cap at
    jaccard 1.0) — the edge form must drop its star edges too, or the
    closure over edges would merge clusters the closure over the
    report leaves as singletons."""
    from big_data_exercise_spark.dedup import cluster, minhash

    docs = _planted_dup_corpus(spark, copies=1, take=6)
    pairs = minhash.near_duplicates(docs, threshold=1.01, use_vocab_ranks=True)
    edges = minhash.near_duplicate_edges(
        docs, threshold=1.01, use_vocab_ranks=True
    )
    assert edges.count() == 0 and pairs.count() == 0
    via_edges = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in cluster.dedup_cluster_assignment(docs, edges).collect()
    }
    # every doc is its own singleton cluster, kept
    assert all(cid == d and keep for d, (cid, keep) in via_edges.items())


def test_winnow_edges_same_components(spark):
    """`overlap_edges` (exact-dup collapse → rep pairs + star edges)
    must reach the same connected components as the quadratic
    `overlap_pairs` report — the contract that lets the four closure
    queries consume Σk rows instead of Σk². Runs on a planted-dup
    corpus so the collapse path actually collapses something."""
    from big_data_exercise_spark.dedup import cluster, winnow

    docs = _planted_dup_corpus(spark)
    pairs = winnow.overlap_pairs(docs).select("id1", "id2")
    edges = winnow.overlap_edges(docs)
    via_pairs = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in cluster.dedup_cluster_assignment(docs, pairs).collect()
    }
    via_edges = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in cluster.dedup_cluster_assignment(docs, edges).collect()
    }
    assert via_edges == via_pairs
    assert edges.count() < pairs.count()


def test_hll_reach_contracts_hold_in_dense_mode(spark):
    """The sf0.001/sf0.01 oracle lanes only exercise HLL in sparse
    mode, where union == direct sketching bit-for-bit; at sf0.1 the
    gadget goes dense and the two estimates measurably diverge (1494
    vs 1488 on 1500 exact — found by an sf0.1 contract spot-check).
    The operator's contracts are accuracy bounds, not estimate
    equality, precisely so they survive that transition: pin them on
    a synthesized high-cardinality (dense-mode) input."""
    from big_data_exercise_spark.operators.aggregations import hll_reach_report

    events = (
        spark.range(200_000)
        .select(
            F.col("id").alias("user_id"),
            (F.col("id") % 2).cast("string").alias("event_type"),
            F.timestamp_seconds(
                F.lit(1_700_000_000) + (F.col("id") % 7) * 86_400
            ).alias("ts"),
        )
    )
    rows = hll_reach_report(events).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["exact_n"] == 100_000
        assert r["mergeable"] and r["ok_5pct"]


@pytest.mark.slow
def test_edge_report_equivalence_fuzz(spark):
    """Hypothesis drive of the clique→star substitution claim: on
    random corpora (tiny shared vocabulary → organic near-dups, random
    clone multiplicities → exact-dup cliques of random size), the
    connected components of `near_duplicate_edges` / `overlap_edges`
    must equal those of the quadratic pair reports. Components are
    computed driver-side with union-find so each example costs two
    collects per family, not two iterative closures."""
    from hypothesis import given, settings, strategies as st

    from big_data_exercise_spark.dedup import minhash, winnow

    vocab = ["alpha", "bravo", "charlie", "delta", "echo", "fox"]
    doc = st.lists(
        st.sampled_from(vocab), min_size=3, max_size=8
    )  # ≥ 3 words ≥ 17 chars: clears the k+w-1 winnow floor
    corpus = st.lists(
        st.tuples(doc, st.integers(min_value=0, max_value=2)),  # (text, clones)
        min_size=2,
        max_size=8,
    )

    def components(n_ids, pair_rows):
        parent = {i: i for i in n_ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pair_rows:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {i: find(i) for i in n_ids}

    @settings(max_examples=5, deadline=None)
    @given(corpus)
    def run(spec):
        rows, next_id = [], 0
        for words, clones in spec:
            text = " ".join(words)
            for _ in range(clones + 1):
                rows.append((next_id, text))
                next_id += 1
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        ids = [r[0] for r in rows]
        for pairs_df, edges_df in (
            (
                minhash.near_duplicates(docs, use_vocab_ranks=True),
                minhash.near_duplicate_edges(docs, use_vocab_ranks=True),
            ),
            (
                winnow.overlap_pairs(docs, min_shared=2),
                winnow.overlap_edges(docs, min_shared=2),
            ),
        ):
            via_pairs = components(
                ids, [(r["id1"], r["id2"]) for r in pairs_df.collect()]
            )
            via_edges = components(
                ids, [(r["id1"], r["id2"]) for r in edges_df.collect()]
            )
            assert via_edges == via_pairs

    run()


@pytest.mark.slow
def test_winnow_edges_same_components_capped(spark):
    """The max_bucket branch of the edge path: rep-level hotness is
    cluster-size-weighted (Σ member counts per fingerprint), so the
    cap drops exactly the fingerprints the per-doc report path drops,
    and the post-cap components still match — including clusters
    whose every fingerprint is boilerplate-hot (stars must vanish for
    those, because their members stop pairing in the report too)."""
    from big_data_exercise_spark.dedup import cluster, winnow

    docs = _planted_dup_corpus(spark)
    for cap in (4, 40):
        pairs = winnow.overlap_pairs(docs, max_bucket=cap).select("id1", "id2")
        edges = winnow.overlap_edges(docs, max_bucket=cap)
        via_pairs = {
            r["doc_id"]: (r["cluster_id"], r["keep"])
            for r in cluster.dedup_cluster_assignment(docs, pairs).collect()
        }
        via_edges = {
            r["doc_id"]: (r["cluster_id"], r["keep"])
            for r in cluster.dedup_cluster_assignment(docs, edges).collect()
        }
        assert via_edges == via_pairs, f"max_bucket={cap}"


def test_python_datasource_partitioned_read(spark):
    """The Python DataSource must plan a genuinely partitioned read
    (one id-range per partition, executor-side iterators) and cover
    the keyspace exactly once — the connector contract."""
    from big_data_exercise_spark.sources.pydatasource import synthetic_events

    df = synthetic_events(spark, rows=1000, partitions=5)
    assert df.rdd.getNumPartitions() == 5
    lo, hi, n = df.agg(
        F.min("id"), F.max("id"), F.count_distinct("id")
    ).collect()[0]
    assert (lo, hi, n) == (0, 999, 1000)


def test_ivf_recall_against_brute_force(spark):
    """IVF with nprobe < n_centroids is approximate by design; the
    property worth pinning is that the approximation is USEFUL: on
    this corpus, probing 2/8 partitions must recover most of the true
    top-10, and nprobe = n_centroids must recover ALL of it (IVF
    degrades to exact when every partition is probed)."""
    from big_data_exercise_spark.similarity.knn import cosine_topk, ivf_topk
    from big_data_exercise_spark.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {r["vec_id"] for r in cosine_topk(emb, k=10).collect()}
    approx = {r["vec_id"] for r in ivf_topk(emb, k=10, n_centroids=8, nprobe=2).collect()}
    assert len(exact & approx) >= 5  # recall@10 ≥ 0.5 with 2/8 probes
    full = {r["vec_id"] for r in ivf_topk(emb, k=10, n_centroids=8, nprobe=8).collect()}
    assert full == exact


def test_pq_prod_recall_and_exact_rerank(spark):
    """pq_topk_prod (PQ64: m=8 × 256 centroids) is the production ANN
    default — it must be USEFUL, not just runnable. Two properties:
    (a) recall@5 vs exact integer-L2 ground truth ≥ 0.9 averaged over
    the queries (the sf0.1 measured figure is 0.994 —
    tools/ann_recall.py); (b) every emitted ``dist`` IS the true
    integer squared-L2 (the re-rank is exact; only shortlist
    membership is approximate), so a returned neighbor is never
    mis-scored."""
    import numpy as np

    from big_data_exercise_spark.similarity.kmeans import QSCALE
    from big_data_exercise_spark.similarity.pq import pq_topk_prod
    from big_data_exercise_spark.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Q = np.floor((X + 1.0) * QSCALE).astype(np.int64)
    pos = {int(v): i for i, v in enumerate(ids)}

    k, nq = 5, 8
    got = pq_topk_prod(emb, n_queries=nq, k=k).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
        # (b) exact re-rank: dist is the true integer squared-L2
        true_d = int(((Q[pos[r["vec_id"]]] - Q[pos[r["query_id"]]]) ** 2).sum())
        assert r["dist"] == true_d, (r, true_d)

    recs = []
    for q, hits in by_q.items():
        d = ((Q - Q[pos[q]]) ** 2).sum(axis=1)
        d[pos[q]] = np.iinfo(np.int64).max
        order = np.lexsort((ids, d))
        truth = set(ids[order[:k]].tolist())
        recs.append(len({h["vec_id"] for h in hits} & truth) / k)
    assert len(by_q) == nq
    assert np.mean(recs) >= 0.9, recs


def test_pq_arrow_kernel_bit_identical_and_cap_wiring(spark):
    """The production PQ path encodes (and train-assigns) with the
    broadcast-codebook Arrow kernel instead of the kcent×-fan-out
    relational join (measured 236 s → seconds for the 200k-vector
    encode at kcent=256). Its contract is BIT-IDENTITY with
    ``_assign``: same fixed-point quantization, integer-exact
    distances, ties to the lowest cid. Also pins the train_cap →
    train_mod derivation and the dirty-row degrade."""
    import numpy as np

    from big_data_exercise_spark.similarity import pq
    from big_data_exercise_spark.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    lf = pq._long_with_sub(emb, pq.M_SUBS_PROD, pq.N_DIMS).localCheckpoint()
    cents = pq.pq_codebooks(
        lf, lambda c: pq._assign(lf, c), pq.K_CENTS_PROD, pq.ITERS_PROD
    )
    rel = {
        (r["vid"], r["sub"]): r["cid"]
        for r in pq._assign(lf, cents).select("vid", "sub", "cid").collect()
    }
    arw = {
        (r["vid"], r["sub"]): r["cid"]
        for r in pq._codes_arrow(emb, cents, pq.M_SUBS_PROD, pq.N_DIMS).collect()
    }
    assert rel == arw and len(rel) > 0

    # dirty rows: a whole-NULL embedding drops (posexplode of NULL
    # yields nothing); a RAGGED embedding assigns via the partial-dim
    # distance over its own dims — the kernel must equal the
    # relational join on the same dirty corpus, row for row
    # (round-12 advice item: the old kernel dropped ragged rows the
    # relational path and the oracle assign)
    dirty = emb.limit(10).unionByName(
        spark.createDataFrame(
            [(90001, None, 0), (90002, [0.5, 0.5], 0)], emb.schema
        )
    )
    dirty_lf = pq._long_with_sub(dirty, pq.M_SUBS_PROD, pq.N_DIMS)
    rel_dirty = {
        (r["vid"], r["sub"]): r["cid"]
        for r in pq._assign(dirty_lf, cents).select("vid", "sub", "cid").collect()
    }
    got = pq._codes_arrow(dirty, cents, pq.M_SUBS_PROD, pq.N_DIMS).collect()
    assert {(r["vid"], r["sub"]): r["cid"] for r in got} == rel_dirty
    assert 90001 not in {r["vid"] for r in got}  # NULL row still drops
    # the ragged row codes exactly its one populated sub-space
    assert [r["sub"] for r in got if r["vid"] == 90002] == [0]

    # train_cap derives the stride: capping at ceil(n/4) vectors must
    # equal the explicit train_mod=4 call, end-to-end
    n = emb.count()
    cap = -(-n // 4)
    a = pq.pq_topk_prod(emb, n_queries=4, k=3, train_cap=cap).collect()
    b = pq.pq_topk_prod(emb, n_queries=4, k=3, train_mod=4, train_cap=None).collect()
    assert sorted(map(tuple, a), key=str) == sorted(map(tuple, b), key=str)


def test_approx_percentile_within_tolerance(spark):
    """percentile_approx is the 100 TB path the exact-percentile query
    documents; pin its contract — with accuracy A the rank error is
    ≤ n/A, so at A=10000 on this data the approx p50/p90 must land
    within 1% of the exact value."""
    from big_data_exercise_spark.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    row = ev.agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.expr("percentile_approx(value, 0.5, 10000)").alias("a50"),
        F.expr("percentile_approx(value, 0.9, 10000)").alias("a90"),
    ).collect()[0]
    assert abs(row["a50"] - row["p50"]) <= 0.01 * max(1.0, abs(row["p50"]))
    assert abs(row["a90"] - row["p90"]) <= 0.01 * max(1.0, abs(row["p90"]))


def test_winnowing_shared_substring_guarantee(spark):
    """The winnowing theorem: documents sharing a substring of length
    >= w + k - 1 are guaranteed at least one common fingerprint;
    unrelated text shares none (with overwhelming probability)."""
    from big_data_exercise_spark.dedup.winnow import K, WIN, fingerprint_sets

    shared = "the quick brown fox jumps over the lazy dog"  # >> w+k-1
    assert len(shared) >= WIN + K - 1
    docs = _docs(
        spark,
        [
            (1, f"unique prefix one {shared} unique suffix alpha"),
            (2, f"completely different opener {shared} and closer"),
            (3, "nothing in common with either document at all here"),
        ],
    )
    fps = fingerprint_sets(docs).collect()
    by_doc = {i: {r["fp"] for r in fps if r["doc_id"] == i} for i in (1, 2, 3)}
    assert by_doc[1] & by_doc[2]  # guaranteed overlap
    assert not (by_doc[1] & by_doc[3] and by_doc[2] & by_doc[3])


def test_winnowing_arrow_equals_relational(spark):
    """The Arrow (numpy) winnowing kernel and the pure-relational
    formulation are bit-identical — exact int64 arithmetic has no
    evaluation-order hazard — including the truncated trailing
    windows and non-ASCII stripping."""
    from big_data_exercise_spark.dedup.winnow import (
        fingerprint_sets,
        fingerprint_sets_relational,
    )
    from big_data_exercise_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").limit(120)
    fast = {(r["doc_id"], r["fp"]) for r in fingerprint_sets(docs).collect()}
    slow = {
        (r["doc_id"], r["fp"])
        for r in fingerprint_sets_relational(docs).collect()
    }
    assert fast == slow and fast


def test_observation_metrics_piggyback_on_action(spark):
    """The Observation API collects metrics during a query's ONE pass
    (no second scan) — the production-monitoring surface for pipeline
    row counts and quality gates."""
    from pyspark.sql import Observation
    from big_data_exercise_spark.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    obs = Observation("gate")
    # DISTINCT aggregates are rejected in observed metrics — the
    # sketch-based estimator is the supported (and scale-correct) form.
    observed = ev.observe(
        obs,
        F.count("*").alias("n"),
        F.approx_count_distinct("user_id").alias("users"),
    )
    n_purchases = observed.filter(F.col("event_type") == "purchase").count()
    assert obs.get["n"] == ev.count()
    assert obs.get["users"] > 0 and n_purchases > 0


def test_stratified_sample_by_is_seeded_and_proportional(spark):
    """sampleBy: per-stratum Bernoulli sampling — the train/val split
    primitive that keeps class balance. Seeded → identical on re-run;
    per-stratum acceptance must track the requested fraction."""
    from big_data_exercise_spark.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    fractions = {"click": 0.5, "purchase": 0.1}
    a = ev.sampleBy("event_type", fractions, seed=42)
    b = ev.sampleBy("event_type", fractions, seed=42)
    ra = {tuple(r) for r in a.collect()}
    assert ra == {tuple(r) for r in b.collect()}  # deterministic
    totals = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    got = {
        r["event_type"]: r["n"]
        for r in a.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert set(got) <= set(fractions)  # unlisted strata fully dropped
    for t, frac in fractions.items():
        share = got.get(t, 0) / totals[t]
        assert abs(share - frac) < 0.15


def test_repetition_stats_known_degenerate_doc(spark):
    from big_data_exercise_spark.functions.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam", "en", "s", 19),
            (2, "all four words differ", "en", "s", 21),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    # 4× the same token: top fraction 1.0, all 3 bigrams duplicate
    assert rows[1]["top_token_frac"] == 1.0
    assert rows[1]["dup_bigram_frac"] == round((3 - 1) / 3, 4)
    assert rows[1]["dup_trigram_frac"] == 0.5
    # all-distinct tokens: no repetition anywhere
    assert rows[2]["top_token_frac"] == 0.25
    assert rows[2]["dup_bigram_frac"] == 0.0
    assert rows[2]["dup_trigram_frac"] == 0.0


def test_repetition_stats_short_docs_no_error(spark):
    from big_data_exercise_spark.functions.text import repetition_stats

    docs = spark.createDataFrame(
        [(1, "one", "en", "s", 3), (2, "two words", "en", "s", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert rows[1]["dup_bigram_frac"] == 0.0  # no bigrams at all
    assert rows[2]["dup_trigram_frac"] == 0.0


def test_regression_recovers_exact_line(spark):
    from big_data_exercise_spark.operators.aggregations import (
        linear_regression_by_group,
    )

    # y = 2x + 1 exactly -> slope 2, intercept 1, r = r2 = 1
    li = spark.createDataFrame(
        [("A", float(x), 2.0 * x + 1.0) for x in range(1, 20)],
        "l_returnflag string, l_quantity double, l_extendedprice double",
    )
    row = linear_regression_by_group(li).collect()[0]
    assert row["slope"] == 2.0
    assert row["intercept"] == 1.0
    assert row["pearson_r"] == 1.0
    assert row["r2"] == 1.0


def test_resample_interpolates_gap_linearly(spark):
    from datetime import datetime

    from big_data_exercise_spark.operators.timeseries import (
        resample_interpolate,
    )

    # observations at hour 0 (val 10) and hour 3 (val 40); hours 1-2
    # are gaps -> linear fill 20, 30
    events = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 30), 7, "click", 10.0, "{}"),
            (2, datetime(2024, 1, 1, 3, 30), 7, "click", 40.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {
        r["bucket"].hour: r
        for r in resample_interpolate(events).collect()
    }
    assert len(out) == 4
    assert out[0]["observed"] and out[0]["filled_value"] == 10.0
    assert out[3]["observed"] and out[3]["filled_value"] == 40.0
    assert not out[1]["observed"] and out[1]["filled_value"] == 20.0
    assert not out[2]["observed"] and out[2]["filled_value"] == 30.0


def test_quantization_error_bounded_by_half_step(spark):
    from big_data_exercise_spark.functions.arrays import quantize_embeddings

    vecs = [
        (1, [0.5, -0.25, 0.125, 1.0], 0),
        (2, [100.0, -50.0, 25.0, 0.0], 1),
        (3, [0.0, 0.0, 0.0, 0.0], 2),  # zero vector: scale guard
    ]
    df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    )
    for r in quantize_embeddings(df).collect():
        # per-element |error| <= scale/2 -> mse <= (scale/2)^2
        assert r["recon_mse"] <= (r["q_scale"] / 2) ** 2 + 1e-12
        if r["vec_id"] == 3:
            assert r["q_scale"] == 1.0 and r["recon_mse"] == 0.0


def test_audio_energy_matches_numpy_reference(spark):
    import numpy as np

    from big_data_exercise_spark.multimodal import audio

    events = spark.createDataFrame(
        [(i, None, i % 3, "click", 1.0, "{}") for i in (0, 5, 13)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    rows = audio.audio_segment_energy(events).collect()
    # every clip yields n_samples // WIN full windows
    by_eid = {}
    for r in rows:
        by_eid.setdefault(r["event_id"], []).append(r)
    for eid, segs in by_eid.items():
        n = audio._n_samples(eid)
        assert len(segs) == n // audio.WIN
        # independent numpy recomputation of window 0
        s = audio._samples(eid, audio.WIN)
        want = int((s * s).sum())
        got = next(r["energy"] for r in segs if r["seg"] == 0)
        assert got == want


def test_audio_decoder_skips_foreign_blobs(spark):
    """Foreign blobs are skipped; BOTH the real WAV container and the
    legacy FAKEPCM framing decode to identical energies (same sample
    formula, different bytes)."""
    from big_data_exercise_spark.multimodal import audio

    clips = spark.createDataFrame(
        [
            (1, b"not-audio-at-all"),
            (2, audio.encode_fake_clip(2, 128)),
            (3, audio.encode_wav(audio._samples(2, 128))),
        ],
        "event_id long, clip binary",
    )
    rows = audio.segment_energy(clips).collect()
    assert {r["event_id"] for r in rows} == {2, 3}
    by_eid = {}
    for r in rows:
        by_eid.setdefault(r["event_id"], {})[r["seg"]] = r["energy"]
    assert by_eid[2] == by_eid[3]


def test_wav_codec_roundtrip_and_chunk_walking():
    """Real RIFF/WAVE codec: mono/stereo at 8/16 bits round-trips
    sample-exact; foreign chunks (LIST) and RIFF's odd-size pad rule
    are honored; non-PCM encodings are rejected by name."""
    import struct

    import numpy as np
    import pytest

    from big_data_exercise_spark.multimodal.audio import decode_wav, encode_wav

    rng = np.random.default_rng(6)
    mono = rng.integers(-32768, 32768, 301).astype(np.int16)
    rate, arr = decode_wav(encode_wav(mono, rate=8000))
    assert rate == 8000 and np.array_equal(arr[:, 0], mono)
    stereo = rng.integers(-32768, 32768, (50, 2)).astype(np.int16)
    _, arr2 = decode_wav(encode_wav(stereo))
    assert np.array_equal(arr2, stereo)
    small = rng.integers(-128, 128, 33).astype(np.int16)  # odd n → pad
    _, arr3 = decode_wav(encode_wav(small, bits=8))
    assert np.array_equal(arr3[:, 0], small)

    # splice a LIST metadata chunk (odd size → pad byte) before data
    wav = encode_wav(mono)
    lst = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    spliced = wav[:12] + lst + wav[12:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    _, arr4 = decode_wav(spliced)
    assert np.array_equal(arr4[:, 0], mono)

    ieee = bytearray(encode_wav(mono))
    ieee[20] = 3  # audio format 3 = IEEE float
    with pytest.raises(ValueError, match="PCM"):
        decode_wav(bytes(ieee))
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"junk")

    # trailing appended bytes after the RIFF body (downloaded-file
    # reality) must NOT be parsed as chunks — the clip stays readable
    _, arr5 = decode_wav(encode_wav(mono) + b"TAGGTAGGx")
    assert np.array_equal(arr5[:, 0], mono)
    # zero-channel fmt is a ValueError, not a ZeroDivisionError
    zero_ch = bytearray(encode_wav(mono))
    zero_ch[22:24] = struct.pack("<H", 0)
    with pytest.raises(ValueError, match="zero channels"):
        decode_wav(bytes(zero_ch))
    # 8-bit range is validated, never silently wrapped
    with pytest.raises(ValueError, match="-128"):
        encode_wav(np.array([1000, -1000], dtype=np.int16), bits=8)
    # a data chunk that is not a whole number of frames is malformed
    # structure (a truncated clip), rejected — never silently trimmed
    fmtc = struct.pack("<HHIIHH", 1, 2, 8000, 8000 * 4, 4, 16)
    payload = b"\x01\x00\x02\x00\x03\x00"  # 1.5 frames of a 4-byte block
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmtc
        + b"data" + struct.pack("<I", len(payload)) + payload
    )
    with pytest.raises(ValueError, match="multiple"):
        decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_segment_energy_survives_corrupt_clips_and_sums_channels(spark):
    """One corrupt stored clip (either framing) must never kill the
    task, and multi-channel energy counts every channel."""
    import numpy as np

    from big_data_exercise_spark.multimodal import audio

    stereo = np.stack(
        [audio._samples(5, 128), audio._samples(9, 128)], axis=1
    )
    clips = spark.createDataFrame(
        [
            (1, b"FAKEPCM0-trunc"),  # legacy magic, truncated header
            (2, audio.encode_wav(audio._samples(3, 64))[:30]),  # cut WAV
            (3, audio.encode_wav(stereo)),
            (4, audio.encode_fake_clip(7, 128)[:40]),  # odd-cut payload
        ],
        "event_id long, clip binary",
    )
    rows = audio.segment_energy(clips).collect()
    assert {r["event_id"] for r in rows} == {3}
    want = {
        j: int(
            (stereo[j * audio.WIN : (j + 1) * audio.WIN].astype(np.int64) ** 2).sum()
        )
        for j in range(2)
    }
    got = {r["seg"]: r["energy"] for r in rows}
    assert got == want


def test_chunking_covers_every_token_with_overlap(spark):
    from big_data_exercise_spark.functions.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(250))
    docs = spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = sorted(
        chunk_documents(docs, chunk=100, stride=80).collect(),
        key=lambda r: r["chunk_idx"],
    )
    # starts 0, 80, 160, 240 -> 4 chunks; sizes 100,100,90,10
    assert [r["chunk_idx"] for r in rows] == [0, 1, 2, 3]
    assert [r["chunk_tokens"] for r in rows] == [100, 100, 90, 10]
    # consecutive chunks overlap by chunk - stride = 20 tokens
    assert rows[0]["chunk_fp"] != rows[1]["chunk_fp"]


def test_kmeans_partitions_all_vectors_and_improves(spark):
    """Every vector gets exactly one cluster and the Lloyd rounds never
    raise the total cost — on the clean corpus and on a dirty one that
    adds a NULL embedding, which drops (posexplode of NULL yields no
    dims), and two ragged ones, which are assigned by the partial
    distance over the dims they have."""
    from big_data_exercise_spark.similarity.kmeans import (
        _assign,
        kmeans_assignments,
        quantized_long,
    )

    clean = load_table(spark, SF_DIR, "embeddings")
    dirty = clean.limit(12).unionByName(
        spark.createDataFrame(
            [(90001, None, 0), (90002, [0.25] * 63, 0), (90003, [0.5] * 7, 0)],
            clean.schema,
        )
    )
    for emb in (clean, dirty):
        expected = {r["vec_id"] for r in emb.select("vec_id").collect()} - {90001}
        rows = kmeans_assignments(emb, k=8, iters=2).collect()
        # exactly one assignment per vector, clusters within [0, k)
        assert len(rows) == len(expected)
        assert {r["vec_id"] for r in rows} == expected
        assert all(0 <= r["cluster"] < 8 for r in rows)
        # Lloyd guarantee (exact in integer space up to floor-div
        # rounding): refined centroids fit at least as well as the
        # seed centroids (the 8 smallest vids)
        long_df = quantized_long(emb).localCheckpoint()
        seeds = long_df.filter(F.col("vid").isin(sorted(expected)[:8])).select(
            F.col("vid").cast("int").alias("cid"), "dim", F.col("q").alias("qc")
        )
        seed_cost = _assign(long_df, seeds).agg(F.sum("dist")).collect()[0][0]
        final_cost = sum(r["dist"] for r in rows)
        assert final_cost <= seed_cost
    assert {90002, 90003} <= expected


def test_pagerank_invariants(spark):
    from big_data_exercise_spark.operators.graph import SCALE, pagerank, trade_edges

    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    rows = pagerank(trade_edges(orders, lineitem), iters=2, top=15).collect()
    assert len(rows) == 15
    assert all(r["kind"] in ("customer", "supplier") for r in rows)
    assert all(r["rank"] > 0 for r in rows)
    ranks = [r["rank"] for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    # no single node can exceed the total probability mass
    assert ranks[0] < SCALE


def test_knn_batch_matches_single_query(spark):
    from big_data_exercise_spark.similarity.knn import cosine_topk, cosine_topk_batch

    emb = load_table(spark, SF_DIR, "embeddings")
    batch = cosine_topk_batch(emb, n_queries=3, k=5)
    got = {
        (r["vec_id"], r["cos_sim"])
        for r in batch.filter(F.col("query_id") == 0).collect()
    }
    want = {
        (r["vec_id"], r["cos_sim"]) for r in cosine_topk(emb, query_id=0, k=5).collect()
    }
    assert got == want


def test_zorder_partitions_cluster_both_dims(spark):
    from big_data_exercise_spark.operators.layout import zvalue

    events = load_table(spark, SF_DIR, "events")
    keyed = events.select(
        F.col("user_id").cast("long").alias("u"),
        F.floor(F.col("value")).cast("long").alias("v"),
        "event_id",
    )

    def bbox_area_sum(df, sort_col):
        parts = df.repartitionByRange(16, sort_col).withColumn(
            "pid", F.spark_partition_id()
        )
        bb = parts.groupBy("pid").agg(
            ((F.max("u") - F.min("u")) * (F.max("v") - F.min("v"))).alias("area")
        )
        return bb.agg(F.sum("area")).collect()[0][0]

    z_area = bbox_area_sum(
        keyed.withColumn("z", zvalue(F.col("u"), F.col("v"))), "z"
    )
    natural_area = bbox_area_sum(keyed, "event_id")
    # the whole point of the layout: z-sorted files cover far smaller
    # rectangles of (user, value) space than arrival-order files
    assert z_area < natural_area


def test_funnel_counts_monotone_non_increasing(spark):
    from big_data_exercise_spark.operators.sequences import conversion_funnel

    events = load_table(spark, SF_DIR, "events")
    rows = sorted(conversion_funnel(events).collect(), key=lambda r: r["stage_idx"])
    counts = [r["n_users"] for r in rows]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert rows[0]["conv_pct"] == 1.0


def test_triangle_census_on_known_k4(spark):
    """Degree-oriented triangle counting on a constructed K4: 3
    customers each buying from all 4 suppliers → every supplier pair
    shares 3 customers (meets the min_weight floor) → the complete
    graph K4: 6 edges, 12 wedges, 4 triangles, clustering 1.0."""
    from big_data_exercise_spark.operators.graph import supplier_triangles

    orders = spark.createDataFrame(
        [(c * 10, c) for c in (1, 2, 3)], "o_orderkey long, o_custkey long"
    )
    lineitem = spark.createDataFrame(
        [(c * 10, s) for c in (1, 2, 3) for s in (1, 2, 3, 4)],
        "l_orderkey long, l_suppkey long",
    )
    row = supplier_triangles(orders, lineitem).collect()[0]
    assert (
        row["n_edges"],
        row["n_wedges"],
        row["n_triangles"],
        row["clustering_coeff"],
    ) == (6, 12, 4, 1.0)


def test_symspell_join_finds_every_ed1_pair(spark):
    """Deletion-neighborhood blocking is exact for edit distance ≤ 1:
    substitutions, insertions and deletions are all found; unrelated
    strings are not."""
    from big_data_exercise_spark.operators.joins import fuzzy_supplier_matches

    sup = spark.createDataFrame(
        [(1, "abc"), (2, "abd"), (3, "abcd"), (4, "xyz")],
        "s_suppkey long, s_name string",
    )
    got = {
        (r["id1"], r["id2"], r["edit_distance"])
        for r in fuzzy_supplier_matches(sup).collect()
    }
    assert got == {(1, 2, 1), (1, 3, 1), (2, 3, 1)}


def test_ssjoin_finds_pair_at_exact_threshold_boundary(spark):
    """Prefix-filter float-safety (round-3 advisor finding): with
    t=0.8 and |A| divisible by 5, the naive ⌊(1−t)·sz⌋+1 prefix is one
    token short (1−0.8 = 0.19999…96 in IEEE) and a pair at exactly
    J = t escapes candidate generation.  |A|=20, B = 16 tokens of A →
    J = 16/20 = 0.8 exactly: the pair MUST surface with jaccard 0.8,
    and a 15/20 pair (J = 0.75... wait 15/(20+15-15)=0.75) must not."""
    from big_data_exercise_spark.dedup.ssjoin import exact_jaccard_pairs

    a_toks = [f"w{i:02d}" for i in range(20)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(a_toks)),
            (2, " ".join(a_toks[4:])),   # 16 shared / 20 union → J=0.8
            (3, " ".join(a_toks[5:])),   # 15 shared / 20 union → J=0.75
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in exact_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert (1, 2) in got and abs(got[(1, 2)] - 0.8) < 1e-12
    assert (1, 3) not in got
    # B⊂C with |B∩C|=15, |B∪C|=16 → J=0.9375 ≥ 0.8: also required.
    assert (2, 3) in got


def test_apriori_prune_exact_with_synthetic_hot_customer(spark):
    """Round-3 hot-key fix: one mega-customer whose basket holds 60
    suppliers that nobody else buys.  A-priori pruning must drop every
    one of them before the pair join (they can never reach the support
    floor), while pair counts, support, confidence and lift for the
    surviving frequent suppliers are identical to the unpruned
    formulation."""
    from big_data_exercise_spark.operators.graph import (
        association_rules,
        supplier_cooccurrence,
    )

    rows_o, rows_l, ok = [], [], 0
    for c in range(1, 6):          # five customers buy 10 & 11; three buy 12
        ok += 1
        rows_o.append((ok, c))
        rows_l.append((ok, 10))
        rows_l.append((ok, 11))
        if c <= 3:
            rows_l.append((ok, 12))
    ok += 1                        # hot customer: 60 rare suppliers
    rows_o.append((ok, 99))
    for s in range(100, 160):
        rows_l.append((ok, s))
    orders = spark.createDataFrame(rows_o, "o_orderkey long, o_custkey long")
    li = spark.createDataFrame(rows_l, "l_orderkey long, l_suppkey long")

    got = {
        (r["s1"], r["s2"]): r
        for r in association_rules(orders, li, top=50, min_pairs=3).collect()
    }
    assert set(got) == {(10, 11), (10, 12), (11, 12)}
    r = got[(10, 11)]
    # metrics must reflect the UNPRUNED relation: 6 customers total
    assert r["n12"] == 5 and abs(r["support"] - round(5 / 6, 4)) < 1e-12
    assert r["conf_1to2"] == 1.0 and abs(r["lift"] - 1.2) < 1e-12
    r = got[(10, 12)]
    assert r["n12"] == 3 and abs(r["conf_1to2"] - 0.6) < 1e-12

    co = {
        (r["s1"], r["s2"]): r["n_shared_customers"]
        for r in supplier_cooccurrence(orders, li, top=50).collect()
    }
    assert co == {(10, 11): 5, (10, 12): 3, (11, 12): 3}


def test_triangle_census_null_coeff_on_wedge_free_graph(spark):
    """Degenerate-graph guard: a min_weight floor that empties (or
    disconnects) the edge set must yield clustering_coeff NULL, not an
    engine-dependent NULL/NaN division artifact."""
    from big_data_exercise_spark.operators.graph import supplier_triangles

    # two customers, disjoint supplier pairs → no pair shares >= 3
    orders = spark.createDataFrame(
        [(1, 1), (2, 2)], "o_orderkey long, o_custkey long"
    )
    li = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)],
        "l_orderkey long, l_suppkey long",
    )
    row = supplier_triangles(orders, li, min_weight=3).collect()[0]
    assert row["n_edges"] == 0
    assert row["clustering_coeff"] is None


def test_equiwidth_histogram_outlier_collapses_to_overflow_bucket(spark):
    """Grid cap: one extreme outlier must NOT explode the bin grid —
    with max_bins=10 the outlier lands in the last (overflow) bin and
    the grid stays 10 bins wide."""
    from big_data_exercise_spark.operators.aggregations import (
        value_equiwidth_histogram,
    )

    vals = [(float(v),) for v in (0, 10, 20, 99)] + [(10_000_000.0,)]
    events = spark.createDataFrame(vals, "value double")
    rows = value_equiwidth_histogram(events, width=10.0, max_bins=10).collect()
    assert len(rows) == 10                     # capped, not 10^6 bins
    by_bin = {r["bin"]: r["n_events"] for r in rows}
    assert by_bin[0] == 1 and by_bin[1] == 1 and by_bin[2] == 1
    assert by_bin[9] == 2                      # 99 (bin 9) + clamped outlier
    assert sum(by_bin.values()) == 5           # nothing lost


def test_distributed_prefix_helpers_match_local_reference(spark):
    """global_running_sum / global_row_number /
    global_exclusive_running_max must equal the single-machine
    reference on shuffled random data — including duplicate order-key
    values (the tie-break column keeps the order total)."""
    import random

    from big_data_exercise_spark.operators.windows import (
        global_exclusive_running_max,
        global_row_number,
        global_running_sum,
    )

    rng = random.Random(11)
    rows = [(i, rng.randint(0, 50), rng.randint(-5, 100)) for i in range(500)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "id long, k long, v long")
    order = [F.asc("k"), F.asc("id")]

    ref = sorted(rows, key=lambda r: (r[1], r[0]))
    run, runsum = {}, 0
    rn, emax = {}, {}
    cur_max = None
    for i, (rid, _k, v) in enumerate(ref):
        runsum += v
        run[rid] = runsum
        rn[rid] = i + 1
        emax[rid] = cur_max
        cur_max = v if cur_max is None else max(cur_max, v)

    got_sum = {
        r["id"]: r["rs"]
        for r in global_running_sum(df, order, F.col("v"), "rs", 7).collect()
    }
    assert got_sum == run
    got_rn = {
        r["id"]: r["rn"] for r in global_row_number(df, order, "rn", 7).collect()
    }
    assert got_rn == rn
    got_max = {
        r["id"]: r["mx"]
        for r in global_exclusive_running_max(
            df, order, F.col("v"), "mx", 7
        ).collect()
    }
    assert got_max == emax


def test_incremental_dedup_is_asymmetric_and_exact_at_boundary(spark):
    """The incremental join must (a) only emit new×corpus pairs —
    never corpus×corpus even when two corpus docs are identical — and
    (b) keep the float-safe prefix bound: a new doc at exactly
    J = 0.8 against a corpus doc must surface."""
    from big_data_exercise_spark.dedup.ssjoin import incremental_jaccard_pairs

    a_toks = [f"w{i:02d}" for i in range(20)]
    docs = spark.createDataFrame(
        [
            (10, " ".join(a_toks)),        # new batch (id % 10 == 0)
            (3, " ".join(a_toks[4:])),     # corpus: J(10,3) = 16/20 = 0.8
            (7, " ".join(a_toks)),         # corpus dup of the new doc
            (9, " ".join(a_toks)),         # corpus dup of corpus doc 7
        ],
        "doc_id long, text string",
    )
    got = {
        (r["new_id"], r["corpus_id"]): r["jaccard"]
        for r in incremental_jaccard_pairs(docs).collect()
    }
    assert set(got) == {(10, 3), (10, 7), (10, 9)}  # no (7,9) pair
    assert abs(got[(10, 3)] - 0.8) < 1e-12
    assert got[(10, 7)] == 1.0


def test_heavy_hitters_exact_under_eviction(spark):
    """Force the Misra-Gries eviction branch (distinct keys ≫ k) with
    a synthetic skewed stream and check the sketch-prefiltered result
    equals the naive full groupBy — the supersetness guarantee under
    real decrement pressure, which the uniform fixtures (cardinality
    < k) never exercise."""
    from big_data_exercise_spark.operators import frequency

    # 5000 distinct background keys (one row each) + 3 hot keys
    rows = spark.range(5000).select((F.col("id") + 100).alias("k"))
    hot = spark.range(900).select((F.col("id") % 3).alias("k"))
    data = rows.unionAll(hot).repartition(8)

    k = 64  # n = 5900, n/k ≈ 92 → exactly the 3 hot keys (300 each)
    got = frequency.heavy_hitters(data, key="k", k=k).collect()
    expect = (
        data.groupBy("k").agg(F.count("*").alias("n_events"))
        .crossJoin(F.broadcast(data.agg(F.count("*").alias("n"))))
        .filter(F.col("n_events") * k > F.col("n"))
        .select("k", "n_events").orderBy("k").collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in expect]
    assert len(got) == 3


def test_csv_roundtrip_preserves_embedded_newlines(spark):
    """The CSV writer quotes embedded newlines; the roundtrip reader
    must read them back (multiLine + FAILFAST). Round-6 review: the
    default line-split PERMISSIVE reader silently split such records
    and nulled the halves."""
    import tempfile

    from big_data_exercise_spark.sources import csvio

    df = spark.createDataFrame(
        [(1, "line1\nline2"), (2, "plain"), (3, "tab\tand \"quote\"")],
        "id long, s string",
    )
    with tempfile.TemporaryDirectory() as d:
        back = csvio.roundtrip(df, d + "/rt")
        assert {tuple(r) for r in back.collect()} == {
            (1, "line1\nline2"), (2, "plain"), (3, 'tab\tand "quote"'),
        }


def test_pii_counts_follow_the_redaction_chain(spark):
    """Category counts are taken on the text as the scrub chain sees
    it: an IP-like dotted tail INSIDE an email is consumed by the
    email redaction and must not also count as an IP (round-6 review:
    independent counts on the dirty text overstated governance
    totals)."""
    from big_data_exercise_spark.functions.pii import redact_pii

    docs = spark.createDataFrame(
        [(7, "reach bob@10.2.3.4.example.com fast", "en")],
        "doc_id long, text string, lang string",
    )
    row = redact_pii(docs).collect()[0]
    # the text email's domain embeds an IP-shaped run; email redaction
    # consumes it, so the ONLY ip counted is the fixture's appended
    # one. text email + fixture email = 2.
    assert row["n_emails"] == 2
    assert row["n_ips"] == 1
    assert row["n_ssns"] == 1 and row["n_phones"] == 1


def test_quality_stats_zero_token_doc_scores_zero(spark):
    """An empty / all-whitespace doc must score 0.0 on every ratio,
    not NULL — a NULL ratio passes through boolean quality gates
    un-judged (round-6 review finding)."""
    from big_data_exercise_spark.functions.text import quality_stats

    docs = spark.createDataFrame(
        [(1, "", "en"), (2, "   ", "en"), (3, "real words here", "en")],
        "doc_id long, text string, lang string",
    )
    rows = {r["doc_id"]: r for r in quality_stats(docs).collect()}
    for d in (1, 2):
        assert rows[d]["n_tokens"] == 0
        assert rows[d]["lexical_diversity"] == 0.0
        assert rows[d]["stopword_ratio"] == 0.0
        assert rows[d]["mean_token_len"] == 0.0
    assert rows[3]["n_tokens"] == 3 and rows[3]["lexical_diversity"] == 1.0


def test_lsh_band_keys_degrades_on_dirty_embeddings(spark):
    """A NULL or wrong-width embedding must drop THAT row from the
    bucket generator, not kill the whole Arrow batch (and the job)
    via np.vstack — the same dirty-corpus contract as the verify
    stage's arrow_pair_cosine. Round-6 review: band_keys previously
    crashed on the first NULL embedding."""
    from big_data_exercise_spark.similarity import lsh
    from big_data_exercise_spark.tables import load_table

    base = load_table(spark, SF_DIR, "embeddings").limit(20)
    dirty = base.unionByName(
        spark.createDataFrame(
            [
                (90001, None, 0),
                (90002, [0.5, 0.5], 0),  # ragged: 2 dims, corpus is 64
            ],
            base.schema,
        )
    )
    keys = lsh.band_keys(dirty).collect()
    ids = {r["vec_id"] for r in keys}
    assert 90001 not in ids and 90002 not in ids
    assert len(keys) == 20 * lsh.BANDS  # every clean row still bucketed

    # the full pipeline survives a dirty corpus end-to-end
    pairs = lsh.near_duplicates(dirty).collect()
    assert all(r["id1"] < 90001 and r["id2"] < 90001 for r in pairs)


def test_contamination_min_hits_zero_reports_clean_docs(spark):
    """min_hits=0 means 'report every probe doc, clean ones at rate
    0.0' — round-6 review found the inner join between the per-doc
    gram counts and the hit counts dropped zero-hit docs before the
    filter ran, so min_hits=0 silently behaved as min_hits=1."""
    from big_data_exercise_spark.dedup.contamination import contamination_report

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),  # bench (id%97==0)
            (1, "the quick brown fox jumps over the lazy dog"),  # fully contaminated
            (2, "completely different words nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    full = {r["doc_id"]: r for r in contamination_report(docs, min_hits=0).collect()}
    assert set(full) == {1, 2}
    assert full[2]["n_contaminated"] == 0 and full[2]["contamination_rate"] == 0.0
    assert full[1]["n_contaminated"] == full[1]["n_grams"]

    hit_only = {r["doc_id"] for r in contamination_report(docs, min_hits=1).collect()}
    assert hit_only == {1}


def test_heavy_hitters_exact_with_null_keys(spark):
    """NULL keys never enter the MG sketch (pandas value_counts drops
    them; an equi semi-join can't match them) — round-6 review found
    the plan silently omitting a frequent NULL group the naive
    groupBy reports. NULLs are now counted exactly OUTSIDE the sketch
    and unioned back in past the threshold; pin both directions:
    frequent NULL appears, infrequent NULL doesn't."""
    from big_data_exercise_spark.operators import frequency

    rows = spark.range(5000).select((F.col("id") + 100).alias("k"))
    hot = spark.range(900).select((F.col("id") % 3).alias("k"))
    nulls = spark.range(400).select(F.lit(None).cast("long").alias("k"))
    data = rows.unionAll(hot).unionAll(nulls).repartition(8)

    k = 64  # n = 6300, n/k ≈ 98 → 3 hot keys (300) + NULL (400)
    got = frequency.heavy_hitters(data, key="k", k=k).collect()
    expect = (
        data.groupBy("k").agg(F.count("*").alias("n_events"))
        .crossJoin(F.broadcast(data.agg(F.count("*").alias("n"))))
        .filter(F.col("n_events") * k > F.col("n"))
        .select("k", "n_events").orderBy("k").collect()
    )
    assert sorted(map(tuple, got), key=str) == sorted(map(tuple, expect), key=str)
    assert {r["k"] for r in got} == {None, 0, 1, 2}

    # below threshold: the NULL row must NOT appear (n=5930, n/k≈93)
    few_nulls = rows.unionAll(hot).unionAll(nulls.limit(30)).repartition(8)
    got2 = frequency.heavy_hitters(few_nulls, key="k", k=k).collect()
    assert {r["k"] for r in got2} == {0, 1, 2}


def test_compaction_reduces_file_count_without_changing_data(spark, tmp_path):
    """The compaction pass must (a) actually shrink the file count to
    the target, (b) do it shuffle-free (coalesce), (c) preserve every
    row — the three contracts of an OPTIMIZE rewrite."""
    import glob
    import os

    from big_data_exercise_spark.operators import layout

    ev = load_table(spark, SF_DIR, "events").select("event_id", "value")
    frag, dst = str(tmp_path / "frag"), str(tmp_path / "dst")
    layout.fragment_write(ev, frag, n_files=60)
    n_frag = len(glob.glob(os.path.join(frag, "*.parquet")))
    assert n_frag == 60

    compacted = layout.compact(spark, frag, dst, target_files=4)
    n_dst = len(glob.glob(os.path.join(dst, "*.parquet")))
    assert n_dst <= 4
    assert compacted.count() == ev.count()

    # shuffle-free: the compaction write plan must carry no Exchange
    plan = (
        spark.read.parquet(frag).coalesce(4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_observe_metrics_match_ground_truth(spark):
    """df.observe must deliver exact ingest metrics from the query's
    own scan: row count, null-value count, and the exact value total
    all equal independently computed ground truth, and the observed
    query's RESULT is unchanged (the registry hash also pins this)."""
    from pyspark.sql import Observation

    from big_data_exercise_spark.operators import observe
    from big_data_exercise_spark.functions.numeric import exact_sum as _es

    ev = load_table(spark, SF_DIR, "events")
    obs = Observation("ingest_metrics_test")
    result = observe.observed_rollup(ev, obs)
    result.write.format("noop").mode("overwrite").save()
    got = obs.get

    truth = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
        _es(F.col("value")).alias("value_total"),
    ).collect()[0]
    assert got["n_rows"] == truth["n_rows"]
    assert (got["n_null_value"] or 0) == (truth["n_null_value"] or 0)
    assert got["value_total"] == truth["value_total"]


@pytest.mark.slow
def test_bpe_matches_sequential_reference(spark):
    """The relational BPE (gaps-and-islands greedy-overlap windows) must
    reproduce the classical sequential algorithm exactly — pair counts,
    tie-breaks, AND the subtle left-to-right overlap rule on runs like
    'aaaa'. Hypothesis drives small adversarial corpora heavy in
    repeated characters."""
    from hypothesis import given, settings, strategies as st

    from big_data_exercise_spark.functions import bpe

    def reference_bpe(words, k):
        # classical sequential BPE over a word-frequency dict
        from collections import Counter

        freq = Counter(words)
        seqs = {w: list(w) for w in freq}
        merges = []
        for _ in range(k):
            pc = Counter()
            for w, s in seqs.items():
                for i in range(len(s) - 1):
                    pc[(s[i], s[i + 1])] += freq[w]
            if not pc:
                break
            best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            (l, r), c = best
            merges.append((l, r, c))
            for w, s in seqs.items():
                out, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                        out.append(s[i] + s[i + 1])
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                seqs[w] = out
        return merges

    # Alphabet deliberately includes an astral-plane char (U+1F600,
    # a UTF-16 surrogate pair) and a combining mark (U+0301): Spark's
    # split(w, ''), DuckDB's string_split(w, ''), and Python's list(w)
    # must all split by CODE POINT for the three implementations to
    # agree — this fuzz pins that (a code-unit splitter would break a
    # surrogate pair into two half-symbols and diverge).
    word = st.text(alphabet="aab\U0001F600\u0301", min_size=1, max_size=6)

    @settings(max_examples=10, deadline=None)
    @given(st.lists(word, min_size=1, max_size=12))
    def run(words):
        docs = spark.createDataFrame(
            [(1, " ".join(words))], "doc_id long, text string"
        )
        got = [
            (r.left_sym, r.right_sym, r.pair_count)
            for r in bpe.learn_merges(docs, k=3).orderBy("rank").collect()
        ]
        # words appear once each in the doc → frequency = multiplicity
        expect = reference_bpe(words, 3)
        assert got == expect

    run()


def test_bpe_symbol_split_codepoint_parity(spark):
    """The BPE symbol state splits words with split(w, '') on the Spark
    side and string_split(w, '') in the DuckDB oracle; both must split
    by Unicode CODE POINT (not UTF-16 code unit) or the two engines'
    learned merges silently diverge on astral-plane text. Pins the
    behavior on a surrogate-pair-bearing word directly."""
    import duckdb

    from big_data_exercise_spark.functions.bpe import _init_symbols

    words = ["a\U0001F600b", "ée", "\U0001F600\U0001F600"]
    wc = spark.createDataFrame([(w, 1) for w in words], "w string, cnt long")
    got = {
        (r.w, r.pos): r.sym for r in _init_symbols(wc).collect()
    }
    con = duckdb.connect()
    oracle = con.execute(
        """
        SELECT w, u.pos AS pos, u.sym AS sym FROM (
          SELECT w, unnest([{'pos': i - 1, 'sym': chars[i]}
                            for i in range(1, len(chars) + 1)]) AS u
          FROM (SELECT unnest(?) AS w) t,
               LATERAL (SELECT string_split(w, '') AS chars) c) q
        """,
        [words],
    ).fetchall()
    expect = {(w, pos): sym for w, pos, sym in oracle}
    assert got == expect
    # and both agree with Python's code-point iteration
    assert expect == {
        (w, i): ch for w in words for i, ch in enumerate(w)
    }


def test_arrow_pair_cosine_dirty_rows_degrade_to_null(spark):
    """A dirty corpus must not kill the Arrow batch: NULL embeddings,
    ragged (wrong-dimension) embeddings, and zero-norm vectors each
    yield cos_raw NULL for THAT row (matching Spark SQL's
    divide-by-zero → NULL and zip_with-over-NULL semantics), while
    clean rows in the same batch still get exact cosines."""
    import math

    from big_data_exercise_spark.functions.arrays import arrow_pair_cosine

    # ragged row FIRST: validity is judged against the declared corpus
    # dim, never inferred from batch content (a content-inferred dim
    # would flip every row's fate with the batch order)
    rows = [
        (4, [1.0, 0.0, 5.0], [1.0, 0.0]),  # ragged
        (1, [1.0, 0.0], [1.0, 0.0]),     # clean: cos = 1
        (2, [1.0, 0.0], [0.0, 2.0]),     # clean: cos = 0
        (3, None, [1.0, 0.0]),           # NULL side
        (5, [0.0, 0.0], [1.0, 0.0]),     # zero norm
    ]
    df = spark.createDataFrame(
        rows, "pid long, e1 array<double>, e2 array<double>"
    ).repartition(1)
    got = {
        r.pid: r.cos_raw
        for r in arrow_pair_cosine(df, "e1", "e2", ["pid"], dim=2).collect()
    }
    assert math.isclose(got[1], 1.0)
    assert math.isclose(got[2], 0.0, abs_tol=1e-12)
    assert got[3] is None and got[4] is None and got[5] is None


def test_grouped_running_sum_matches_window_with_negatives(spark):
    """grouped_running_sum must equal the plain grouped window on
    arbitrary data INCLUDING negative values — the per-slice totals
    must come from sum(value), not max(running) (those coincide only
    for non-negative streams), and the broadcast offsets must stitch
    slices in (group, order) range order. Hypothesis drives signed
    values, duplicate order keys broken by a unique id, and group
    counts that force groups to straddle range partitions."""
    from hypothesis import given, settings, strategies as st
    from pyspark.sql import Window as W

    from big_data_exercise_spark.operators.windows import grouped_running_sum

    row = st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=2)),  # group (incl NULL!)
        st.integers(min_value=0, max_value=5),      # order key (ties!)
        st.integers(min_value=-50, max_value=50),   # signed value
    )

    @settings(max_examples=6, deadline=None)
    @given(st.lists(row, min_size=1, max_size=40))
    def run(rows):
        data = [(g, o, i, v) for i, (g, o, v) in enumerate(rows)]
        df = spark.createDataFrame(data, "g int, o int, uid int, v long")
        got = grouped_running_sum(
            df, ["g"], [F.asc("o"), F.asc("uid")], F.col("v"), "run",
            num_partitions=4,
        )
        w = (
            W.partitionBy("g")
            .orderBy("o", "uid")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        expect = df.withColumn("run", F.sum("v").over(w).cast("long"))
        assert (
            got.exceptAll(expect).union(expect.exceptAll(got)).count() == 0
        )

    run()


def test_top_k_per_group_nan_null_order_parity(spark):
    """The partition-local truncation must rank NaN/NULL exactly as
    the plain window form: NaN above every finite value (Spark's float
    total order under desc), NULL last, and a surviving NaN comes back
    as NaN, not NULL.  coalesce(1) puts every row in one partition so
    the local truncation actually bites."""
    import math

    from pyspark.sql import Window as W

    from big_data_exercise_spark.operators.windows import top_k_per_group

    rows = [(i, "a", i, float(i)) for i in range(6)]
    rows += [(10, "a", 10, float("nan")), (11, "a", 11, None)]
    rows += [(20, "b", 20, 1.0), (21, "b", 21, None)]
    events = spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, value double"
    ).coalesce(1)

    got = {
        (r["event_type"], r["rk"], r["event_id"])
        for r in top_k_per_group(events, k=3).collect()
    }
    w = W.partitionBy("event_type").orderBy(F.desc("value"), "event_id")
    want = {
        (r["event_type"], r["rk"], r["event_id"])
        for r in events.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .collect()
    }
    assert got == want
    # the NaN row outranks every finite value; the NULL row survives
    # only where the group has spare top-k room (NULLS LAST)
    assert ("a", 1, 10) in got and ("a", 2, 5) in got
    assert ("b", 2, 21) in got and ("a", 3, 11) not in got
    nan_vals = [
        r["value"]
        for r in top_k_per_group(events, k=3).collect()
        if r["event_id"] == 10
    ]
    assert len(nan_vals) == 1 and math.isnan(nan_vals[0])


def test_knn_batch_nan_null_order_parity(spark):
    """cosine_topk_batch's partition-local truncation under a dirty
    corpus: a NaN cosine (NaN vector element) must rank first in
    Spark's float total order, a NULL cosine (zero-norm division) last
    — identical to the plain-window twin over the same scored
    relation."""
    from pyspark.sql import Window as W

    from big_data_exercise_spark.functions.arrays import EMBEDDING_DIM
    from big_data_exercise_spark.functions.numeric import round_det
    from big_data_exercise_spark.similarity.knn import cosine, cosine_topk_batch

    def vec(head):
        v = [0.0] * EMBEDDING_DIM
        for i, x in enumerate(head):
            v[i] = x
        return v

    rows = [(0, "q", vec([1.0]))]
    rows += [(i, "c", vec([1.0, i / 10.0])) for i in range(1, 7)]
    rows.append((9, "c", vec([float("nan"), 1.0])))
    rows.append((10, "c", [0.0] * EMBEDDING_DIM))
    emb = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    ).coalesce(1)

    got = {
        (r["query_id"], r["rank"], r["vec_id"])
        for r in cosine_topk_batch(emb, n_queries=1, k=3).collect()
    }
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            round_det(cosine("embedding", "q"), 4).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "vec_id")
    want = {
        (r["query_id"], r["rank"], r["vec_id"])
        for r in scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .collect()
    }
    assert got == want
    assert (0, 1, 9) in got  # NaN cosine outranks every finite one
    assert all(v != 10 for (_, _, v) in got)  # NULL cosine ranks last


def test_corrupt_record_accounting_null_and_empty_payloads(spark):
    """NULL payloads count as corrupt EXPLICITLY (round-8 advice):
    from_json(NULL) yields a NULL corrupt-record column — the parser
    never ran — so only the isNull term keeps the operator aligned
    with the positional oracle on a corpus carrying NULL props. A
    valid-but-field-less '{}' payload stays clean (the round-7 fuzz
    fix), and a mod-100 row is corrupt regardless of payload."""
    from big_data_exercise_spark.operators.scalars import corrupt_record_accounting

    rows = [
        (100, "a", None),          # mod row, NULL payload  -> corrupt
        (101, "a", None),          # non-mod, NULL payload  -> corrupt
        (200, "a", '{"k": 1}'),    # mod row, valid payload -> corrupt (mangled)
        (201, "a", '{"k": 2}'),    # non-mod, valid         -> clean
        (202, "a", "{}"),          # non-mod, field-less    -> clean
        (203, "b", '{"k": 3}'),    # non-mod, valid         -> clean
        (300, "b", "{}"),          # mod row, field-less    -> corrupt (mangled)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, props string"
    )
    got = {
        r["event_type"]: (r["n_rows"], r["n_corrupt"])
        for r in corrupt_record_accounting(df).collect()
    }
    assert got == {"a": (5, 3), "b": (2, 1)}


def test_connected_components_uf_gate_equivalence(spark, monkeypatch):
    """Round-11: the driver union-find fast path (edge count under the
    gate) and the contraction + frontier fallback must assign identical
    labels on a mixed graph — cliques, a long chain, and singletons."""
    import random

    from big_data_exercise_spark.dedup import cluster

    rng = random.Random(1107)
    edges_py, base = [], 0
    for size in (2, 3, 7, 19):  # quasi-cliques
        ids = list(range(base, base + size))
        edges_py += [(ids[i], ids[rng.randrange(size)]) for i in range(size)]
        base += size
    chain = list(range(base, base + 50))  # diameter-50 chain
    edges_py += list(zip(chain, chain[1:]))
    nodes = spark.createDataFrame(
        [(i,) for i in range(base + 60)], "node long"  # +10 singletons
    )
    edges = spark.createDataFrame(edges_py, "src long, dst long")
    fast = {
        r["node"]: r["cluster_id"]
        for r in cluster.connected_components(nodes, edges).collect()
    }
    # Force the Pregel fallback; max_iter=64 because the frontier loop
    # converges in O(contracted diameter) rounds and this chain's is
    # ~25 (the union-find path has no such bound — it is exact at any
    # diameter, one more reason it is the under-gate default).
    monkeypatch.setattr(cluster, "_DRIVER_UF_EDGES", -1)
    slow = {
        r["node"]: r["cluster_id"]
        for r in cluster.connected_components(nodes, edges, max_iter=64).collect()
    }
    assert fast == slow
    # min-label contract: every cluster id is the min node of its class
    for node, cid in fast.items():
        assert cid <= node


def test_pagerank_driver_replay_equivalence(spark, monkeypatch):
    """Round-11: the driver numpy power iteration (edge count under
    ``graph._DRIVER_PR_EDGES``) and the relational loop must emit
    identical rows — the arithmetic is all non-negative int64, so the
    replay is exact, not approximately equal. Graph mixes a hub, a
    ring, and leaf nodes so degrees and inflows differ per node."""
    from big_data_exercise_spark.operators import graph

    edges_py = [(2 * c, 2 * (c % 3) + 1) for c in range(1, 40)]  # 3 hubs
    edges_py += [(2 * c, 2 * 5 + 1) for c in range(1, 6)]  # extra fan-in
    edges = spark.createDataFrame(edges_py, "u long, v long").distinct()
    fast = [tuple(r) for r in graph.pagerank(edges, iters=3, top=25).collect()]
    monkeypatch.setattr(graph, "_DRIVER_PR_EDGES", -1)
    slow = [tuple(r) for r in graph.pagerank(edges, iters=3, top=25).collect()]
    assert fast == slow
    ranks = [r[2] for r in fast]
    assert ranks == sorted(ranks, reverse=True)


def test_pagerank_negative_ids_fall_back_to_relational(spark, monkeypatch):
    """Round-12 (advice item): the driver numpy replay uses Python
    ``//``/``%`` where the relational loop uses Spark's truncating DIV
    and sign-preserving ``%`` — they diverge on NEGATIVE node ids, so
    the gate must refuse the driver path for such graphs and the
    public pagerank(edges) API must still answer through the
    relational loop, identically at both gate settings."""
    from big_data_exercise_spark.operators import graph

    edges_py = [(-2, 3), (-4, 3), (-2, 5), (6, 5)]
    edges = spark.createDataFrame(edges_py, "u long, v long")
    gated = [tuple(r) for r in graph.pagerank(edges, iters=2, top=10).collect()]
    monkeypatch.setattr(graph, "_DRIVER_PR_EDGES", -1)
    forced = [tuple(r) for r in graph.pagerank(edges, iters=2, top=10).collect()]
    assert gated == forced and len(gated) > 0
    # the divergent projection really is exercised: negative ids map
    # through Spark semantics (-2 % 2 == 0 → customer, -2 DIV 2 == -1)
    assert ("customer", -1) in {(r[0], r[1]) for r in gated}


def test_lsh_candidate_pairs_first_band_unique(spark):
    """Round-11: pairs are emitted from the FIRST matching band only —
    a pair sharing every band appears exactly once, with no distinct
    pass in the plan."""
    from big_data_exercise_spark.dedup import minhash

    rows = [
        tuple([1] + [7] * 12),
        tuple([2] + [7] * 12),           # shares ALL 3 bands with doc 1
        tuple([3] + [7] * 6 + [9] * 6),  # shares band 0 only
    ]
    cols = "doc_id long, " + ", ".join(f"h{j} long" for j in range(12))
    sigs = spark.createDataFrame(rows, cols)
    got = minhash.lsh_candidate_pairs(sigs, 12, 3).collect()
    pairs = sorted((r["id1"], r["id2"]) for r in got)
    assert pairs == [(1, 2), (1, 3), (2, 3)]  # no duplicates, full set
