"""sf1-scale contract slice (round 9, VERDICT item 5).

Runs the N heaviest oracle-carrying queries — ranked by their
measured sf0.1 bench walls in ``bench_detail_sf0.1_c32.json`` — against a
generated sf1 dir (``tools/gen_sf1.py``), comparing Spark vs DuckDB
with the exact driver comparator (column-sorted + row-sorted +
md5 value hash), and records per-query walls for BOTH engines.

The five closure queries are excluded here by design: their
recursive-CTE oracles are oracle-side quadratic at this scale and
are covered instead by ``tools/closure_sf01_verify.py /tmp/bdes_sf1``
(union-find swap of ONLY the closure step). A handful of known-heavy
text/dedup names that the bench set does not carry are appended
explicitly so the slice covers the token-volume tier too.

Usage:
    python tools/sf1_contract.py [--dir /tmp/bdes_sf1] [--top 30] \
        [--out /tmp/sf1_contract.json] [name ...]
    python tools/sf1_contract.py --all      # round 10: the FULL
        oracle-feasible set — every oracle-carrying registry query
        except the named INFEASIBLE_AT_SF1 map (each entry carries the
        reason and the alternate verification route), with a per-query
        oracle watchdog (--oracle-timeout, default 1200 s) so one
        monster oracle can't wedge the sweep.

With explicit names, runs exactly those instead of the ranked slice.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import threading
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CLOSURE_QUERIES = {
    "dedup_cluster_assignment",
    "winnowing_cluster_assignment",
    "dedup_kept_corpus",
    "curated_corpus",
    "governed_corpus",
}

# Queries whose ORACLE (not the engine) is machine-infeasible at sf1,
# each with the reason and the independent route that covers it there.
# The engine side of every one of these completes at sf1.
INFEASIBLE_AT_SF1 = {
    "dedup_cluster_assignment": (
        "recursive-CTE closure over a 25.7M-pair table (oracle-side "
        "quadratic) — covered by tools/closure_sf01_verify.py at sf1 "
        "(union-find swap of ONLY the closure step, oracle prefix + "
        "tail verbatim) and by 10/10 replica decomposition"
    ),
    "winnowing_cluster_assignment": (
        "recursive-CTE closure over a 105M-pair winnowing table — "
        "covered by tools/closure_sf01_verify.py at sf1"
    ),
    "dedup_kept_corpus": (
        "inherits the dedup closure — closure_sf01_verify at sf1"
    ),
    "curated_corpus": (
        "inherits the dedup closure — closure_sf01_verify at sf1"
    ),
    "governed_corpus": (
        "inherits the dedup closure — closure_sf01_verify at sf1"
    ),
    "minhash_near_duplicates": (
        "pair-report oracle needs the full 25.7M-pair vocabulary join: "
        "DuckDB OOM-killed at 110 GB RSS uncapped, filled the ~93 GB "
        "disk when capped — covered by tools/sf1_replica_verify.py "
        "(10/10 stride-shifted replica decomposition + sf0.1 oracle "
        "re-anchor, zero cross-replica pairs)"
    ),
    "minhash_near_duplicates_prod": (
        "same pair-report oracle shape (xxhash64 prod mode is rows-only "
        "by design everywhere) — sf1_replica_verify route"
    ),
    "winnowing_overlap_pairs": (
        "the fps-bucket self-join oracle needs >70 GB of DuckDB temp on "
        "top of a 40 GB memory cap (measured round 10: died at a 70 GB "
        "max_temp_directory_size after 65 GiB spilled; 58 GB cap died "
        "too) — machine-disk-infeasible here. The identical pairs "
        "construction WAS direct-oracle-verified at sf1 in round 9 via "
        "tools/closure_sf01_verify.py (104,972,995 pairs materialized "
        "under a 60 GB memory cap, union-find + verbatim oracle tails "
        "hash-green); the query itself is hash-green at sf0.1 (full "
        "contract) and on the skewed sf0.1 twin, and the ENGINE "
        "completes sf1 in 539 s including collecting all 105M rows"
    ),
    "containment_pairs": (
        "same fps self-join oracle prefix with a LOWER shared-count "
        "floor (HAVING >= 10 vs 20) plus two containment joins — "
        "strictly more spill than winnowing_overlap_pairs, which "
        "already exceeds the machine's disk (58 GB cap died at sf1, "
        "round 10). Hash-green at sf0.1 + skewed sf0.1; engine "
        "completes sf1 in 189 s (286,186 rows)"
    ),
    "supplier_triangles": (
        "TPC-H's uniform order-supplier mixing makes the co-supplier "
        "graph COMPLETE (coefficient 1.0), so the oracle's wedge join "
        "is ~2.4B rows at sf1: DuckDB spilled 49 GB of the ~90 GB disk "
        "before being killed (round 10). Verified at sf1 by closed-form "
        "replica decomposition instead: the stride-replicated sf1 graph "
        "is 10 disjoint copies of the sf0.1 graph, and the Spark sf1 "
        "result (4995000, 4985010000, 1661670000, 1.0) in 135 s is "
        "EXACTLY 10x the oracle-checked sf0.1 row = (10*C(1000,2), "
        "10*W, 10*C(1000,3), 1.0)"
    ),
}

# Heavy names outside the bench set: the giant-token-volume tier the
# skew campaign exercised; at sf1 these are the largest oracle jobs.
EXTRA_HEAVY = [
    "exact_jaccard_pairs",
    "contamination_report",
    "document_chunks",
    "winnowing_fingerprints",
    "text_quality_stats",
    "token_counts",
    "explode_words",
]


def canon(pdf):
    pdf = pdf[sorted(pdf.columns)]
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(
        drop=True
    )


def value_hash(pdf):
    return hashlib.md5(
        pdf.to_csv(index=False, float_format="%.9g").encode()
    ).hexdigest()


def ranked_slice(oracles, top):
    detail = json.load(
        open(os.path.join(os.path.dirname(__file__), "..", "bench_detail_sf0.1_c32.json"))
    )["queries"]
    ranked = [
        n
        for n, _ in sorted(detail.items(), key=lambda kv: -kv[1])
        if n in oracles and n not in CLOSURE_QUERIES
    ]
    names = ranked[:top]
    for n in EXTRA_HEAVY:
        if n in oracles and n not in names:
            names.append(n)
    return names


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default="/tmp/bdes_sf1")
    ap.add_argument("--top", type=int, default=30)
    ap.add_argument("--out", default="/tmp/sf1_contract.json")
    ap.add_argument("--skip", action="append", default=[])
    ap.add_argument(
        "--duck-mem",
        default="48GB",
        help="DuckDB memory_limit; the sf1 pair-report oracles exceed "
        "RAM without a limit (the default 80%%-of-RAM policy OOM-killed "
        "the first run at 110 GB RSS) — a hard cap makes the row-based "
        "joins spill to temp_directory instead",
    )
    ap.add_argument(
        "--all",
        action="store_true",
        help="run EVERY oracle-carrying registry query except the "
        "INFEASIBLE_AT_SF1 names (whose reasons are printed and "
        "recorded in the artifact)",
    )
    ap.add_argument(
        "--oracle-timeout",
        type=float,
        default=1200.0,
        help="per-query DuckDB watchdog in seconds: the connection is "
        "interrupted and the query recorded as oracle_timeout",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_SF_DIR"] = args.dir
    import __spark_entry__ as e
    from big_data_exercise_spark.session import get_spark
    from big_data_exercise_spark.tables import TABLES

    qs, oracles = e.queries(), e.oracle_sql()
    if args.all:
        names = [n for n in qs if n in oracles and n not in INFEASIBLE_AT_SF1]
        for n, why in INFEASIBLE_AT_SF1.items():
            print(f"SKIP {n}: {why}", flush=True)
    else:
        names = args.names or ranked_slice(oracles, args.top)
    names = [n for n in names if n not in set(args.skip)]
    # cheapest-first (reverse of the heaviness ranking) so a late
    # failure on a monster oracle doesn't void the accumulated greens
    names = list(reversed(names))

    spark = get_spark()
    con = duckdb.connect()
    os.makedirs("/tmp/duck_spill", exist_ok=True)
    con.execute(f"SET memory_limit='{args.duck_mem}'")
    con.execute("SET temp_directory='/tmp/duck_spill'")
    # A runaway oracle must error out, not fill the disk: the
    # supplier_triangles oracle at sf1 spilled 49 GB (of ~90 GB free)
    # before this cap existed. The error is caught per-query.
    try:
        con.execute("SET max_temp_directory_size='40GB'")
    except Exception:
        pass  # older duckdb without the knob
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.dir}/{t}.parquet'")

    results, bad = {}, []
    for name in names:
        rec = {}
        try:
            t0 = time.monotonic()
            sdf = qs[name](spark, args.dir).toPandas()
            rec["spark_wall_s"] = round(time.monotonic() - t0, 2)
            rec["rows"] = len(sdf)
            t0 = time.monotonic()
            # watchdog: one runaway oracle must not wedge the sweep —
            # interrupt() raises duckdb.InterruptException in con.sql
            timer = threading.Timer(args.oracle_timeout, con.interrupt)
            timer.start()
            try:
                ddf = con.sql(oracles[name]).df()
            finally:
                timer.cancel()
            rec["oracle_wall_s"] = round(time.monotonic() - t0, 2)
            s, d = canon(sdf), canon(ddf)
            rec.update(
                rows_match=len(s) == len(d),
                schema_match=list(s.columns) == list(d.columns),
                hash_match=value_hash(s) == value_hash(d),
            )
            if not (rec["rows_match"] and rec["schema_match"] and rec["hash_match"]):
                bad.append(name)
        except Exception as ex:  # noqa: BLE001 — report and keep sweeping
            rec["err"] = f"{type(ex).__name__}: {ex}"
            bad.append(name)
        results[name] = rec
        print(f"{name}: {json.dumps(rec)}", flush=True)

    summary = {
        "dir": args.dir,
        "n": len(names),
        "green": len(names) - len(bad),
        "bad": bad,
    }
    payload = {"summary": summary, "results": results}
    if args.all:
        payload["infeasible_at_sf1"] = INFEASIBLE_AT_SF1
    with open(args.out, "w") as f:
        json.dump(payload, f, indent=1)
    print("SUMMARY:", json.dumps(summary))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
