"""sf0.1 end-to-end verification for the five closure queries
(dedup_cluster_assignment, winnowing_cluster_assignment,
dedup_kept_corpus, curated_corpus, governed_corpus).

Their registry oracles compute transitive closure with a recursive
CTE, which DuckDB needs >30 min per query on the 1.3-2.6M-row sf0.1
pair tables (the Spark side answers in 7-16 s — the gap is the
ORACLE's cost). This tool swaps ONLY the closure step of the oracle
for a driver-side union-find, keeping everything else — tokenize,
fingerprint, LSH, verify, pair generation, and the post-closure
aggregation — in DuckDB SQL verbatim:

1. run the oracle's own non-recursive prefix (everything up to and
   including ``pairs``) in DuckDB → the pair table;
2. union-find over those pairs plus every doc_id (pure Python — the
   same closure semantics the fuzz lane `test_edge_report_equivalence
   _fuzz` pins against the recursive CTE at small scale);
3. materialize (node, reach=component min) as the ``walk`` relation
   and run the oracle's UNCHANGED tail (MIN(reach) verdicts + final
   aggregation) over it — valid because every oracle consumes walk
   solely through MIN(reach)/node = MIN(reach), and min-over-
   component equals min-over-reachable-set;
4. value-hash compare against the Spark result, same comparator as
   the driver contract (column-sorted + row-sorted md5).

Usage: python tools/closure_sf01_verify.py [sf_dir] [query ...]
(with explicit query names, verifies just those of the five)
"""
from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
if not os.path.isdir(SF_DIR):
    # A query name passed without the sf_dir would otherwise bind as
    # SF_DIR and the tool would "verify" all five queries against a
    # nonexistent directory (round-9 advice item) — fail fast instead.
    sys.exit(
        f"closure_sf01_verify: first argument must be an existing sf_dir "
        f"(got {SF_DIR!r}); usage: closure_sf01_verify.py [sf_dir] [query ...]"
    )

CLOSURE_QUERIES = [
    "dedup_cluster_assignment",
    "winnowing_cluster_assignment",
    "dedup_kept_corpus",
    "curated_corpus",
    "governed_corpus",
]

# the exact closure block every closure oracle carries (asserted below)
_WALK_BLOCK = """sym AS (SELECT id1 AS src, id2 AS dst FROM pairs
                UNION SELECT id2, id1 FROM pairs),
        walk(node, reach) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT w.node, s.dst FROM walk w JOIN sym s ON s.src = w.reach)"""


def vhash(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    csv = df.to_csv(index=False, float_format="%.9g")
    return hashlib.md5(csv.encode()).hexdigest()


class UnionFind:
    def __init__(self):
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        p = self.parent.setdefault(x, x)
        while p != x:
            self.parent[x] = p = self.parent[p]
            x, p = p, self.parent[p]
        return p

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def main() -> None:
    from big_data_exercise_spark.plans.registry import all_queries
    from big_data_exercise_spark.session import get_spark
    from big_data_exercise_spark.tables import TABLES

    specs = all_queries()
    spark = get_spark("closure-sf01")
    con = duckdb.connect()
    # At sf1-scale dirs the pair prefix exceeds RAM under DuckDB's
    # default 80%-of-RAM policy (observed: OOM-killed at 110 GB RSS);
    # a hard cap + temp dir makes the row-based joins spill instead.
    mem = os.environ.get("SPARK_GRAFT_DUCK_MEM")
    if mem:
        os.makedirs("/tmp/duck_spill", exist_ok=True)
        con.execute(f"SET memory_limit='{mem}'")
        con.execute("SET temp_directory='/tmp/duck_spill'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    doc_ids = [r[0] for r in con.sql("SELECT doc_id FROM documents").fetchall()]

    bad = []
    chosen = sys.argv[2:] or CLOSURE_QUERIES
    assert all(n in CLOSURE_QUERIES for n in chosen), chosen
    # The pair prefix dominates at large sf_dirs (the four
    # winnowing-family oracles share ONE identical fps/pairs
    # construction — ~27 min of DuckDB at the generated sf1), so pairs
    # and the union-find walk are cached per distinct prefix text.
    pair_cache: dict[str, tuple[list, pd.DataFrame]] = {}
    for name in chosen:
        spec = specs[name]
        sql = spec.oracle
        assert _WALK_BLOCK in sql, f"{name}: closure block drifted"
        cut = sql.index(_WALK_BLOCK)

        # 1. oracle's own pair generation, verbatim prefix
        pairs_sql = sql[:cut].rstrip().rstrip(",") + "\nSELECT id1, id2 FROM pairs"
        if pairs_sql in pair_cache:
            pairs, walk = pair_cache[pairs_sql]
            t_pairs = 0.0
        else:
            t0 = time.perf_counter()
            pairs = con.sql(pairs_sql).fetchall()
            t_pairs = time.perf_counter() - t0

            # 2. driver-side union-find closure (pairs + every singleton)
            uf = UnionFind()
            for d in doc_ids:
                uf.find(d)
            for a, b in pairs:
                uf.union(a, b)
            walk = pd.DataFrame(
                {"node": doc_ids, "reach": [uf.find(d) for d in doc_ids]}
            )
            pair_cache[pairs_sql] = (pairs, walk)

        # 3. unchanged oracle tail over the materialized closure
        con.register("uf_walk", walk)
        swapped = (
            sql.replace(_WALK_BLOCK, "walk AS (SELECT node, reach FROM uf_walk)")
            .replace("WITH RECURSIVE", "WITH")
        )
        t0 = time.perf_counter()
        odf = con.sql(swapped).df()
        t_tail = time.perf_counter() - t0

        # 4. Spark side + compare
        t0 = time.perf_counter()
        sdf = spec.build(spark, SF_DIR).toPandas()
        t_spark = time.perf_counter() - t0
        rows = len(sdf) == len(odf)
        schema = sorted(sdf.columns) == sorted(odf.columns)
        h = vhash(sdf) == vhash(odf)
        print(
            f"{name}: rows_match={rows} schema_match={schema} hash_match={h} "
            f"({len(sdf)} vs {len(odf)}; {len(pairs)} pairs; "
            f"oracle {t_pairs:.0f}+{t_tail:.0f}s, spark {t_spark:.0f}s)",
            flush=True,
        )
        if not (rows and schema and h):
            bad.append(name)
    print("BAD:", ", ".join(bad) if bad else "none")
    spark.stop()


if __name__ == "__main__":
    main()
