"""Distributed BPE tokenizer induction: learn byte-pair-encoding merge
rules over the corpus vocabulary, relationally.

The text tier already *applies* tokenization (text.py token counts /
packing); this module *learns* the tokenizer — the corpus-side half of
building an LLM data pipeline (Sennrich et al.'s public BPE
construction). The classic algorithm is sequential; the relational
decomposition makes every step a distributed plan:

1. **Vocabulary collapse.** BPE statistics depend only on word TYPES
   and their frequencies, so the corpus (100 TB) collapses to the
   distinct-word table (≪ corpus; one shuffle) and every later pass
   runs over word types weighted by count — the same "collapse before
   the expensive loop" move the dedup tier uses.
2. **Symbol state** = (word, pos, sym) long form; adjacency is "next
   row in pos order", so merges never renumber positions.
3. **Per round**: pair counts = one lead() + grouped sum (shuffle on
   the pair key); the best pair = a 1-row aggregate broadcast back
   (struct-min: max count, ties → lexicographically smallest pair —
   deterministic, no collect); merge application = per-word window
   logic (partitions are single words — bounded and uniform).
4. **Greedy left-to-right overlap rule**: adjacent matches always
   overlap (they share the middle symbol), so within each maximal run
   of consecutive matches only the 0th, 2nd, 4th … apply — the
   gaps-and-islands decomposition (run id via row_number difference,
   parity of the offset within the run). This reproduces exactly what
   the sequential scan does on e.g. "aaaa" with merge (a,a) → "aa aa".

Every step is integer/string algebra over windows both engines share,
so the DuckDB oracle (bpe_sql) replays the whole loop bit-for-bit with
unrolled CTEs, kmeans.py-style.

Unicode contract: the initial symbol split (``split(w, '')`` here,
``string_split(w, '')`` in the oracle) is by CODE POINT in both
engines — surrogate pairs stay whole, combining marks are their own
symbols — pinned by tests/test_properties.py (codepoint-parity test
and the fuzz alphabet, which includes U+1F600 and U+0301).

Output: the learned merge table (rank, left_sym, right_sym,
pair_count) — k rows, the artifact a tokenizer trainer ships.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window as W, functions as F

from big_data_exercise_spark.functions.text import tokens

K_MERGES = 4


def word_counts(documents: DataFrame) -> DataFrame:
    """(w, cnt): the frequency-weighted vocabulary — the only pass
    that touches the full corpus."""
    return (
        documents.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )


def _init_symbols(wc: DataFrame) -> DataFrame:
    return wc.select(
        "w", F.posexplode(F.split(F.col("w"), "")).alias("pos", "sym")
    )


def _pair_counts(lf: DataFrame, wc: DataFrame) -> DataFrame:
    wd = W.partitionBy("w").orderBy("pos")
    return (
        lf.withColumn("nxt", F.lead("sym").over(wd))
        .filter(F.col("nxt").isNotNull())
        .join(wc, "w")
        .groupBy(F.col("sym").alias("l"), F.col("nxt").alias("r"))
        .agg(F.sum("cnt").alias("c"))
    )


def _best_pair(pc: DataFrame) -> DataFrame:
    """1-row DataFrame: highest count, ties → smallest (l, r). A
    struct-min aggregate, not a sort — and broadcast, not collected."""
    return pc.agg(
        F.min(F.struct((-F.col("c")).alias("nc"), "l", "r")).alias("b")
    ).select(
        F.col("b.l").alias("l"),
        F.col("b.r").alias("r"),
        (-F.col("b.nc")).alias("c"),
    )


def _apply_merge(lf: DataFrame, l_sym: str, r_sym: str) -> DataFrame:
    """Apply one merge rule given as driver-side LITERALS. The rule is
    already on the driver (the convergence probe collects the 1-row
    best-pair frame each round), so folding it in as literals replaces
    the old crossJoin(broadcast(best)) — one fewer eager checkpoint +
    broadcast job per round (guide §1.3: fixed per-job overhead is
    what an iterative loop at this scale actually pays)."""
    wd = W.partitionBy("w").orderBy("pos")
    t = (
        lf.withColumn("l", F.lit(l_sym))
        .withColumn("r", F.lit(r_sym))
        .withColumn("nxt", F.lead("sym").over(wd))
        .withColumn(
            "m",
            F.coalesce(
                (F.col("sym") == F.col("l")) & (F.col("nxt") == F.col("r")),
                F.lit(False),
            ),
        )
        .withColumn("rn", F.row_number().over(wd))
        .withColumn(
            "grp",
            F.col("rn") - F.row_number().over(W.partitionBy("w", "m").orderBy("pos")),
        )
        .withColumn(
            "off",
            F.row_number().over(W.partitionBy("w", "m", "grp").orderBy("pos")) - 1,
        )
        .withColumn("apply", F.col("m") & (F.col("off") % 2 == 0))
        .withColumn("consumed", F.coalesce(F.lag("apply").over(wd), F.lit(False)))
    )
    return t.filter(~F.col("consumed")).select(
        "w",
        "pos",
        F.when(F.col("apply"), F.concat("sym", "nxt")).otherwise(F.col("sym")).alias("sym"),
    )


def learn_merges(documents: DataFrame, k: int = K_MERGES) -> DataFrame:
    """The first ``k`` BPE merge rules over the corpus vocabulary.
    Output: (rank, left_sym, right_sym, pair_count), rank 1-based in
    learning order."""
    wc = word_counts(documents).localCheckpoint(eager=False)
    # Lazy: the symbol state materializes inside the round's
    # convergence-probe job (first()) and its blocks serve that
    # round's merge application — one job per round instead of two.
    lf = _init_symbols(wc).localCheckpoint(eager=False)
    merges: list[dict] = []
    for i in range(1, k + 1):
        # 1-row convergence probe (the iterative-loop exception to the
        # no-collect rule): a corpus can run out of adjacent pairs
        # before k rounds — stop instead of emitting a NULL rule. The
        # collected row IS the round's result (rank, l, r, c), so the
        # output assembles driver-side — no per-round eager checkpoint,
        # no k-way union of 1-row frames (round 11: one job per round
        # instead of two).
        row = _best_pair(_pair_counts(lf, wc)).first()
        if row is None or row["l"] is None:
            break
        merges.append(
            {"rank": i, "left_sym": row["l"], "right_sym": row["r"], "pair_count": row["c"]}
        )
        if i < k:
            lf = _apply_merge(lf, row["l"], row["r"]).localCheckpoint(
                eager=False
            )
    schema = pa.schema({
        "rank": pa.int32(), "left_sym": pa.string(),
        "right_sym": pa.string(), "pair_count": pa.int64(),
    })
    out = documents.sparkSession.createDataFrame(pa.Table.from_pylist(merges, schema))
    return out.orderBy("rank")


def bpe_sql(k: int = K_MERGES) -> str:
    """DuckDB oracle replaying learn_merges bit-for-bit: unrolled
    merge rounds, same windows, same tie-break."""
    parts = [r"""wc AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '')) AS w
        FROM documents) t GROUP BY w),
    s0 AS (
      SELECT w, u.pos AS pos, u.sym AS sym FROM (
        SELECT w, unnest([{'pos': i - 1, 'sym': chars[i]}
                          for i in range(1, len(chars) + 1)]) AS u
        FROM (SELECT w, string_split(w, '') AS chars FROM wc) c) t)"""]
    for i in range(1, k + 1):
        parts.append(f"""pc{i} AS (
      SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS c FROM (
        SELECT w, sym AS l,
               lead(sym) OVER (PARTITION BY w ORDER BY pos) AS r
        FROM s{i - 1}) t JOIN wc USING (w)
      WHERE r IS NOT NULL GROUP BY 1, 2),
    b{i} AS (SELECT l, r, c FROM pc{i} ORDER BY c DESC, l, r LIMIT 1)""")
        if i < k:
            parts.append(f"""t{i} AS (
      SELECT s.w, s.pos, s.sym, b.l, b.r,
             lead(s.sym) OVER (PARTITION BY s.w ORDER BY s.pos) AS nxt,
             row_number() OVER (PARTITION BY s.w ORDER BY s.pos) AS rn
      FROM s{i - 1} s CROSS JOIN b{i} b),
    u{i} AS (
      SELECT *, COALESCE(sym = l AND nxt = r, FALSE) AS m FROM t{i}),
    v{i} AS (
      SELECT *, rn - row_number() OVER (PARTITION BY w, m ORDER BY pos) AS grp
      FROM u{i}),
    x{i} AS (
      SELECT *, row_number() OVER (PARTITION BY w, m, grp ORDER BY pos) - 1 AS off
      FROM v{i}),
    y{i} AS (SELECT *, m AND off % 2 = 0 AS app FROM x{i}),
    z{i} AS (
      SELECT *, COALESCE(lag(app) OVER (PARTITION BY w ORDER BY pos), FALSE)
                  AS consumed
      FROM y{i}),
    s{i} AS (
      SELECT w, pos, CASE WHEN app THEN sym || nxt ELSE sym END AS sym
      FROM z{i} WHERE NOT consumed)""")
    selects = [
        f"SELECT CAST({i} AS INTEGER) AS rank, l AS left_sym, r AS right_sym, "
        f"c AS pair_count FROM b{i}"
        for i in range(1, k + 1)
    ]
    return (
        "WITH " + ",\n    ".join(parts)
        + "\n    " + "\n    UNION ALL ".join(selects)
        + "\n    ORDER BY rank"
    )
