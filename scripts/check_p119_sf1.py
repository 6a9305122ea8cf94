#!/usr/bin/env python3
"""Staged sf1-scale oracle for p119_dd_edit_verify (VERDICT r12 item 4).

Semantics are IDENTICAL to the registered DuckDB oracle (shared
MinHash -> salted-LSH -> jaccard>=0.9 pair memo, then exact unit-cost
Levenshtein over each candidate pair); only the EVALUATION STRATEGY
changes, the check_p15/check_p67 technique:

 1. Each pair-chain CTE stage (sigs, sx, cand, prs) is MATERIALIZED as
    a temp table — DuckDB re-inlines multiply-referenced CTEs, so the
    single-statement form recomputes the token-hash lists and the
    banded self-join several times over (the bulk of the documented
    35-minute one-off at sf1).
 2. The doc-text lookup (tx) is materialized RESTRICTED to documents
    that occur in a surviving pair (a semi-join) — the final join then
    touches ~2x|pairs| texts instead of the corpus. Same rows out: the
    registered tx is only ever joined to prs ids.
 3. The final SELECT (the Levenshtein DP itself) runs VERBATIM over
    the materialized tables, parallelized by DuckDB across the pair
    table's row groups.

The stage SQL is parsed out of the oracle string the engine registers
(oracle_sql.json from a `Verify` dump, one filtered by
SPARK_GRAFT_ONLY will do), so this script cannot
drift from the registered semantics.

Usage: check_p119_sf1.py <sfDir> <verifyOutDir>
  (<verifyOutDir> must contain p119_dd_edit_verify/*.parquet and
   oracle_sql.json with the p119 entry.)
"""
import sys, json, glob, os, time
import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_p15_sf1 import split_ctes


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    p = f"{sfdir}/documents.parquet"
    src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
    con.sql(f"CREATE VIEW documents AS SELECT * FROM {src}")

    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    oracle = oracles["p119_dd_edit_verify"]
    ctes, order, final = split_ctes(oracle)
    assert order[:4] == ["sigs", "sx", "cand", "prs"], order
    assert order[4] == "tx", order

    # ---- stage 1: materialize the shared pair chain, one stage at a time
    for name in ["sigs", "sx", "cand", "prs"]:
        t0 = time.time()
        con.sql(f"CREATE TEMP TABLE {name} AS {ctes[name]}")
        n = con.sql(f"SELECT count(*) FROM {name}").fetchone()[0]
        print(f"stage {name:4s}: {n:>10} rows  {time.time()-t0:7.1f} s", flush=True)

    # ---- stage 2: tx restricted to pair participants (semi-join —
    # identical rows reach the final join, the rest never would)
    t0 = time.time()
    con.sql(f"CREATE TEMP TABLE tx AS SELECT * FROM ({ctes['tx']}) "
            "WHERE doc_id IN (SELECT id_a FROM prs UNION SELECT id_b FROM prs)")
    n = con.sql("SELECT count(*) FROM tx").fetchone()[0]
    print(f"stage tx  : {n:>10} rows  {time.time()-t0:7.1f} s", flush=True)

    # ---- stage 3: the registered final SELECT verbatim (the DP wall)
    t0 = time.time()
    expected = con.sql(final).df()
    print(f"levenshtein final: {len(expected)} pairs  {time.time()-t0:7.1f} s",
          flush=True)

    got = pd.read_parquet(
        sorted(glob.glob(f"{outdir}/p119_dd_edit_verify/*.parquet")))
    key = ["id_a", "id_b"]
    got = got.sort_values(key).reset_index(drop=True)
    expected = expected.sort_values(key).reset_index(drop=True)

    ok = True
    if len(got) != len(expected):
        print(f"BAD row count: spark {len(got)} vs oracle {len(expected)}")
        ok = False
    else:
        for c in ["id_a", "id_b", "lev", "maxlen", "sim_ppm", "strong"]:
            if not (got[c].to_numpy() == expected[c].to_numpy()).all():
                bad = (got[c].to_numpy() != expected[c].to_numpy()).sum()
                print(f"BAD column {c}: {bad} mismatching rows")
                ok = False
    nstrong = int(expected["strong"].sum()) if len(expected) else 0
    print(("OK" if ok else "BAD") +
          f"  p119_dd_edit_verify: {len(expected)} pairs, {nstrong} strong")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
