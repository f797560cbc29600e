"""Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
"Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03)
— the rolling-hash fingerprint family used for plagiarism and
substring-level near-dup detection, where token-set methods (MinHash)
are blind to local reordering.

Fully relational, no UDF:

1. normalize to lowercase printable ASCII (so the char-code function
   is engine-portable);
2. k-gram polynomial rolling hash per position: h(i) = Σ_j
   code(c_{i+j})·31^{k-1-j} — computed vectorized with
   ``F.transform`` over a position sequence (each term is < 2^45, the
   sum is exact in int64, no modulus needed);
3. winnowing: the minimum hash of each w-window of consecutive k-gram
   hashes (a partitioned window-min), distinct per doc = the
   fingerprint set. Guarantee: any shared substring of length
   ≥ w + k − 1 produces at least one shared fingerprint.

Scale shape: per-doc work is linear in text length; the only shuffle
is the per-doc window partition — identical to any per-doc window op.
At 100 TB the fingerprint set is the join key for substring-level
candidate pairs (bucket-join on fingerprint, like LSH bands).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

K = 8  # k-gram width (chars)
WIN = 4  # winnowing window (hashes)
_POW = [31 ** (K - 1 - j) for j in range(K)]


def _norm_text(col=None):
    """The kernel's text normalization — lowercase printable ASCII —
    as a single shared expression. The exact-dup collapse
    (:func:`_collapsed_fingerprints`) and the relational fingerprint
    twin must agree on this byte-for-byte."""
    return F.lower(
        F.regexp_replace(col if col is not None else F.col("text"), r"[^\x20-\x7e]", "")
    )


def _kgram_hashes(cs, k: int = K):
    """array<long> of polynomial k-gram hashes over a char-code array
    column. Indexing a pre-split array is O(1) per access; the naive
    alternative — ``substr(t, i, 1)`` per position — rescans the
    string from the start each call (O(i)), turning the hash into
    O(len²) per document and dominating the whole winnowing pipeline
    (measured 19.1s → 5.3s for the sf0.1 fingerprint set)."""

    def khash(i):
        h = None
        for j, p in enumerate(_POW):
            term = F.element_at(cs, i + j + 1) * F.lit(p)
            h = term if h is None else h + term
        return h

    return F.transform(F.sequence(F.lit(0), F.size(cs) - k), khash)


def fingerprint_sets_relational(
    documents: DataFrame, k: int = K, w: int = WIN
) -> DataFrame:
    """Distinct (doc_id, fp) winnowing fingerprints, pure-relational:
    char-code array → transform() k-gram hash → posexplode →
    window-min. This is the UDF-free formulation (any-engine
    portable; the DuckDB oracle replays it as CTEs), but transform()
    is CodegenFallback — interpreted per position × per k-gram term —
    which makes it the CPU bottleneck of the dedup tier. Kept as the
    documentation/equivalence twin of ``fingerprint_sets``; a property
    test asserts both produce identical sets."""
    t = _norm_text()
    codes = F.transform(
        F.split(F.col("t"), ""), lambda c: F.ascii(c).cast("long")
    )
    docs = (
        documents.select("doc_id", t.alias("t"))
        .filter(F.length("t") >= k)
        .select("doc_id", codes.alias("cs"))
    )
    hashed = docs.select(
        "doc_id", F.posexplode(_kgram_hashes(F.col("cs"), k)).alias("pos", "h")
    )
    frame = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    return (
        hashed.withColumn("fp", F.min("h").over(frame))
        .select("doc_id", "fp")
        .distinct()
    )


def fingerprint_sets(
    documents: DataFrame,
    k: int = K,
    w: int = WIN,
    pre_partitioned: bool = False,
) -> DataFrame:
    """Distinct (doc_id, fp) winnowing fingerprints — the bucket-join
    key for substring-level candidate pairs.

    Arrow path: the whole rolling-hash + window-min kernel is exact
    int64 arithmetic (every k-gram term < 2^45; no modulus), so ANY
    evaluation order gives identical integers — numpy correlate +
    sliding-window min inside mapInPandas is bit-identical to the
    relational formulation (``fingerprint_sets_relational``, which the
    DuckDB oracle replays) at ~5× less CPU, because the relational
    transform() lambda is interpreted per term. Per-doc work is linear
    and partition-local: the operator adds NO shuffle beyond the
    distinct, exactly like the relational twin."""
    import re

    import numpy as np
    import pandas as pd

    pow_ = np.array([31 ** (k - 1 - j) for j in range(k)], dtype=np.int64)
    strip = re.compile(r"[^\x20-\x7e]")

    def winnow_batches(pdfs):
        for pdf in pdfs:
            out_ids, out_fps = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                s = "" if text is None else text
                # strip to printable ASCII FIRST, then lowercase —
                # the relational twin's exact order; ASCII-only lower
                # is engine-identical. (C-speed regex: the per-char
                # Python loop measured as the kernel's bottleneck.)
                s = strip.sub("", s).lower()
                if len(s) < k:
                    continue
                cs = np.frombuffer(s.encode("ascii"), dtype=np.uint8).astype(
                    np.int64
                )
                h = np.correlate(cs, pow_)  # h[i] = Σ_j cs[i+j]·31^(k-1-j)
                n = h.shape[0]
                # suffix minima replicate the window frame's truncation
                # at the partition end (rowsBetween(0, w-1) clips).
                suffix = np.minimum.accumulate(h[::-1])[::-1]
                if n > w:
                    full = np.lib.stride_tricks.sliding_window_view(h, w).min(
                        axis=1
                    )
                    mins = np.concatenate([full, suffix[n - w + 1 :]])
                else:
                    mins = suffix
                fps = np.unique(mins)
                out_ids.append(np.full(fps.shape[0], doc_id, dtype=np.int64))
                out_fps.append(fps)
            if out_ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(out_ids),
                        "fp": np.concatenate(out_fps),
                    }
                )

    docs = documents.select("doc_id", "text")
    if not pre_partitioned:
        # ensure_parallelism probes .rdd.getNumPartitions() — cheap on
        # a parquet scan, but on a lazily-checkpointed input the probe
        # would force an eager materialization under the degraded
        # 64 MB byte-advisory coalescing (the documented lazy-
        # checkpoint trap). Callers that already pinned parallelism
        # with an explicit repartition pass pre_partitioned=True.
        from big_data_exercise_spark.tables import ensure_parallelism

        docs = ensure_parallelism(docs)
    return docs.mapInPandas(winnow_batches, "doc_id long, fp long")


def _collapsed_fingerprints(documents: DataFrame, k: int = K, w: int = WIN):
    """Exact-dup collapse for the winnowing CLOSURE path, mirroring
    the MinHash pipeline's discipline (`minhash._verified_rep_pairs`):
    fingerprint sets are a pure function of the NORMALIZED text
    (printable-ASCII strip, then lowercase — the kernel's own first
    step), so documents with identical normalized text share every
    fingerprint, every bucket, and every pair statistic. The Σ bucket²
    self-join therefore runs once per DISTINCT normalized text; a web
    corpus at 100 TB is 20-50 % exact dups, and without the collapse a
    k-member duplicate cluster contributes k²·|fps| rows to the bucket
    join.

    Returns ``(mem, fps)``: ``mem`` maps every doc to its cluster
    representative (doc_id, rep_id — min doc_id per normalized text),
    ``fps`` is the (doc_id=rep, fp) fingerprint set table over
    representatives only.
    """
    from big_data_exercise_spark.tables import ensure_parallelism

    documents = ensure_parallelism(documents)
    keyed = documents.select("doc_id", "text", F.md5(_norm_text()).alias("nfp"))
    members = keyed.select("doc_id", "nfp").localCheckpoint(eager=False)
    # ONE aggregation picks each cluster's representative doc AND its
    # text (min_by ties the text to the min doc_id) — no join back
    # against the corpus. A join formulation here is a trap twice
    # over: a checkpointed input keeps only its pre-checkpoint size
    # estimate, far past the broadcast threshold, so Catalyst plans a
    # sort-merge join, and AQE byte-coalesces its exchanges (~1 MB
    # of rep text → 3 partitions), starving the CPU-bound fingerprint
    # kernel downstream. The explicit repartition pins kernel
    # parallelism to the session's shuffle.partitions (the
    # cluster-sized knob) — AQE never coalesces an explicit N.
    # shuffle.partitions is not numeric on every platform (managed
    # runtimes set "auto"); fall back to the cluster's default
    # parallelism rather than crashing a foreign session.
    try:
        n_shuffle = int(
            documents.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (TypeError, ValueError):
        n_shuffle = documents.sparkSession.sparkContext.defaultParallelism
    rep_docs = (
        keyed.groupBy("nfp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("text", "doc_id").alias("text"),
        )
        .repartition(n_shuffle)
        .localCheckpoint(eager=False)
    )
    # pre_partitioned: the explicit repartition above already pins
    # kernel parallelism, and ensure_parallelism's .rdd probe would
    # eagerly materialize the lazy checkpoint (the trap documented in
    # minhash.py — eager materialization gets byte-advisory AQE
    # coalescing instead of parallelismFirst).
    fps = fingerprint_sets(rep_docs, k, w, pre_partitioned=True).localCheckpoint(
        eager=False
    )
    reps = rep_docs.select("nfp", F.col("doc_id").alias("rep_id"))
    mem = members.join(reps, "nfp").select(
        F.col("doc_id").alias("doc_id"), "rep_id"
    )
    return mem, fps


def containment_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
    min_shared: int = 10,
    k: int = K,
    w: int = WIN,
) -> DataFrame:
    """Asymmetric containment near-dups: pairs where one document's
    fingerprint set is mostly INSIDE the other's — the excerpt/quote
    relationship Jaccard-based dedup is structurally blind to (a 50-line
    excerpt of a 5000-line doc has Jaccard ≈ 0.01 but containment ≈ 1).
    Standard in training-data curation for catching quoted/boilerplate
    inclusions that survive symmetric dedup.

    Output per (id1 < id2): shared fingerprint count and both directed
    containments c1 = shared/|fps(id1)|, c2 = shared/|fps(id2)|; kept
    when either direction ≥ ``threshold`` (and shared ≥ ``min_shared``
    to bound noise from tiny sets). Same bucket-join shape and cost as
    ``overlap_pairs`` — integer counts, so both engines agree exactly;
    the divisions are single IEEE ops."""
    from big_data_exercise_spark.functions.numeric import round_det

    fps = fingerprint_sets(documents, k, w).localCheckpoint(eager=False)
    sizes = fps.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = fps.select(F.col("doc_id").alias("id1"), "fp")
    b = fps.select(F.col("doc_id").alias("id2"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    s1 = sizes.select(F.col("doc_id").alias("id1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("id2"), F.col("sz").alias("sz2"))
    c1 = F.col("n_shared") / F.col("sz1")
    c2 = F.col("n_shared") / F.col("sz2")
    return (
        shared.join(s1, "id1")
        .join(s2, "id2")
        .filter(F.greatest(c1, c2) >= threshold)
        .select(
            "id1",
            "id2",
            "n_shared",
            round_det(c1, 4).alias("containment1"),
            round_det(c2, 4).alias("containment2"),
        )
    )


def winnowing_fingerprints(
    documents: DataFrame, k: int = K, w: int = WIN
) -> DataFrame:
    """Per-doc winnowing fingerprint summary: distinct selected
    hashes, min and max (integers — exact in any engine)."""
    return fingerprint_sets(documents, k, w).groupBy("doc_id").agg(
        F.count("fp").alias("n_fingerprints"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )


def overlap_pairs(
    documents: DataFrame,
    min_shared: int = 20,
    k: int = K,
    w: int = WIN,
    max_bucket: int | None = None,
) -> DataFrame:
    """Substring-level near-dup pairs: docs sharing ≥ ``min_shared``
    winnowing fingerprints. The join is fingerprint-bucketed (like LSH
    bands) — cost is Σ bucket², sub-quadratic because a fingerprint
    selects ~1/w of positions. The set table is persisted: it feeds
    both join sides and Spark would otherwise recompute the whole
    hash+window subtree twice. At web scale, cap hot buckets (a
    boilerplate fingerprint shared by millions of docs) before the
    self-join — same discipline as MinHash band buckets.

    ``max_bucket`` is that cap: fingerprints shared by more than
    ``max_bucket`` docs are dropped BEFORE the self-join (a
    boilerplate header fingerprint in a web corpus can hit millions of
    docs → a single 10^12-row bucket). The cap is a deterministic
    filter, so the trade is explicit and oracle-checkable: pair recall
    drops only for pairs whose EVERY shared fingerprint is
    boilerplate-hot, and the join cost bound becomes
    Σ min(bucket, cap)².

    This is the quadratic pair REPORT (its output is Σk² on duplicate
    clusters by definition); when only connectivity is needed — the
    dedup closure — use :func:`overlap_edges`, which is linear in
    cluster size end to end."""
    fps = fingerprint_sets(documents, k, w).localCheckpoint(eager=False)
    if max_bucket is not None:
        sizes = fps.groupBy("fp").agg(F.count("*").alias("bsz"))
        fps = (
            fps.join(sizes.filter(F.col("bsz") <= max_bucket), "fp")
            .select("doc_id", "fp")
            .localCheckpoint(eager=False)
        )
    return _shared_pairs(fps, min_shared)


def _shared_pairs(fps: DataFrame, min_shared: int) -> DataFrame:
    """The Σ bucket² fingerprint self-join: qualifying (id1 < id2,
    n_shared ≥ ``min_shared``) pairs over a (doc_id, fp) set table.
    Shared by the quadratic report (:func:`overlap_pairs`) and the
    rep-level edge path (:func:`_rep_overlap`) — the edge path's
    correctness contract is pairing-semantics parity with the report,
    so there must be exactly one copy of the pairing semantics."""
    a = fps.select(F.col("doc_id").alias("id1"), "fp")
    b = fps.select(F.col("doc_id").alias("id2"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def _rep_overlap(
    documents: DataFrame,
    min_shared: int,
    k: int,
    w: int,
    max_bucket: int | None,
):
    """Representative-level overlap machinery for
    :func:`overlap_edges`: ``(mem, rep_shared, sz_ok)`` — the
    member→rep map, the qualifying rep-level pair list (id1 < id2,
    n_shared ≥ ``min_shared``), and the reps whose own fingerprint
    count qualifies (rid, n_shared) — i.e. whose exact-dup members
    pair with EACH OTHER in the full report."""
    mem, fps = _collapsed_fingerprints(documents, k, w)
    if max_bucket is not None:
        # hotness = number of DOCS carrying the fingerprint = Σ cluster
        # sizes over the reps that carry it (members share rep sets).
        csize = mem.groupBy("rep_id").agg(F.count("*").alias("cn"))
        hot = (
            fps.join(csize, fps.doc_id == csize.rep_id)
            .groupBy("fp")
            .agg(F.sum("cn").alias("bsz"))
        )
        fps = (
            fps.join(hot.filter(F.col("bsz") <= max_bucket).select("fp"), "fp")
            .select("doc_id", "fp")
            .localCheckpoint(eager=False)
        )
    rep_shared = _shared_pairs(fps, min_shared)
    sz_ok = (
        fps.groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select(F.col("doc_id").alias("rid"), "n_shared")
    )
    return mem, rep_shared, sz_ok


def overlap_edges(
    documents: DataFrame,
    min_shared: int = 20,
    k: int = K,
    w: int = WIN,
    max_bucket: int | None = None,
) -> DataFrame:
    """Connectivity-preserving substring near-dup edges (id1, id2) —
    the winnowing sibling of ``minhash.near_duplicate_edges``: rep-
    level qualifying pairs plus member→rep star edges for clusters
    whose fingerprint count qualifies (members of such a cluster pair
    with each other in the full report; a cross pair implies both
    clusters qualify, since n_shared ≤ min(|fps|), so stars cover every
    connected member). Components equal those of
    :func:`overlap_pairs`'s quadratic expansion; row count is Σk, not
    Σk² — feed THIS to the dedup closure."""
    mem, rep_shared, sz_ok = _rep_overlap(documents, min_shared, k, w, max_bucket)
    stars = (
        mem.join(sz_ok.select("rid"), mem.rep_id == F.col("rid"))
        .filter(F.col("doc_id") != F.col("rep_id"))
        .select(F.col("rep_id").alias("id1"), F.col("doc_id").alias("id2"))
    )
    return rep_shared.select("id1", "id2").unionByName(stars)

