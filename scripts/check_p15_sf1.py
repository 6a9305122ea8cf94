#!/usr/bin/env python3
"""sf1-scale oracle for p15_dd_neardup_groups (VERDICT r9 item 1).

Semantics are IDENTICAL to the registered DuckDB oracle (the full
MinHash -> salted-LSH -> jaccard>=0.9 -> connected-components chain);
only the EVALUATION STRATEGY changes, because the registered single-
statement form grinds >1h at 50k docs:

 1. Each named CTE stage (sigs, sx, cand, prs, edges) is MATERIALIZED as
    a temp table. DuckDB inlines non-recursive CTEs referenced more than
    once (cand scans sx twice, prs scans sigs twice), so the one-shot
    form recomputes the per-doc token-hash lists up to 4x and joins on
    computed lists; materializing evaluates each stage once.
 2. The transitive closure (WITH RECURSIVE reach) builds Sum(s^2) rows
    over components of size s -- quadratic in component size, and sf1's
    planted duplicate chains make that the >1h wall. It is replaced by
    min-label propagation with pointer jumping (label <- min of self,
    neighbors' labels, label's label), linear in |edges| per round and
    O(log n) rounds -- converging to the SAME unique fixpoint: label =
    min doc_id reachable, exactly what the recursive CTE's
    "min(b) over reach" computes.

The stage SQL is NOT restated here -- it is parsed out of the oracle
string the engine registers (oracle_sql.json from a `Verify` dump, one
filtered by SPARK_GRAFT_ONLY will do), so this script can never drift
from the registered semantics.

Usage: check_p15_sf1.py <sfDir> <verifyOutDir>
  (<verifyOutDir> must contain p15_dd_neardup_groups/*.parquet and
   oracle_sql.json with the p15 entry, i.e. a `Verify` dump, e.g.
   SPARK_GRAFT_ONLY=p15 runMain graft.Verify <sfDir> <verifyOutDir>.)
"""
import sys, json, glob, os, re, time
import duckdb
import pandas as pd


def split_ctes(sql: str):
    """Parse 'WITH name AS (...), name2 AS (...) SELECT ...' at top level."""
    m = re.match(r"\s*WITH\s+", sql)
    assert m, "oracle must start with WITH"
    i = m.end()
    parts = {}
    order = []
    while True:
        m = re.match(r"\s*(\w+)\s+AS\s*\(", sql[i:])
        assert m, f"expected CTE at ...{sql[i:i+80]!r}"
        name = m.group(1)
        j = i + m.end()  # position after the opening paren
        depth = 1
        k = j
        while depth > 0:
            c = sql[k]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            k += 1
        parts[name] = sql[j:k - 1]
        order.append(name)
        # after the closing paren: ',' -> next CTE; else the final SELECT
        m2 = re.match(r"\s*,", sql[k:])
        if m2:
            i = k + m2.end()
        else:
            return parts, order, sql[k:]


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for tname in ["documents"]:
        p = f"{sfdir}/{tname}.parquet"
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.sql(f"CREATE VIEW {tname} AS SELECT * FROM {src}")

    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    oracle = oracles["p15_dd_neardup_groups"]
    ctes, order, final = split_ctes(oracle)
    assert order[:4] == ["sigs", "sx", "cand", "prs"], order
    # p50 shares the pair chain verbatim — assert no drift, then reuse
    # the materialized prs for its (cheap) final aggregation
    check_p50 = "p50_dd_stream_neardup" in oracles and \
        glob.glob(f"{outdir}/p50_dd_stream_neardup/*.parquet")
    if check_p50:
        ctes50, order50, final50 = split_ctes(oracles["p50_dd_stream_neardup"])
        for name in ["sigs", "sx", "cand", "prs"]:
            assert ctes50[name] == ctes[name], f"p50 {name} CTE drifted from p15's"
    # p51 (leakage-safe split) also shares the chain AND the closure; its
    # expected rows derive from the propagated labels (grp := lbl) with
    # its registered final SELECT run verbatim — no drift possible
    check_p51 = "p51_split_leakage_safe" in oracles and \
        glob.glob(f"{outdir}/p51_split_leakage_safe/*.parquet")
    if check_p51:
        ctes51, order51, final51 = split_ctes(oracles["p51_split_leakage_safe"])
        for name in ["sigs", "sx", "cand", "prs"]:
            assert ctes51[name] == ctes[name], f"p51 {name} CTE drifted from p15's"
    # p75 (canonical keep) shares the chain AND the closure; its gd/k
    # stages + final SELECT run verbatim off the propagated labels
    check_p75 = "p75_dd_canonical" in oracles and \
        glob.glob(f"{outdir}/p75_dd_canonical/*.parquet")
    if check_p75:
        ctes75, order75, final75 = split_ctes(oracles["p75_dd_canonical"])
        for name in ["sigs", "sx", "cand", "prs", "edges"]:
            assert ctes75[name] == ctes[name], f"p75 {name} CTE drifted from p15's"

    # ---- stage 1: materialize the pair pipeline, one stage at a time
    for name in ["sigs", "sx", "cand", "prs", "edges"]:
        t0 = time.time()
        con.sql(f"CREATE TEMP TABLE {name} AS {ctes[name]}")
        n = con.sql(f"SELECT count(*) FROM {name}").fetchone()[0]
        print(f"stage {name:5s}: {n:>10} rows  {time.time()-t0:7.1f} s", flush=True)

    # ---- stage 2: min-label propagation with pointer jumping
    t0 = time.time()
    con.sql("CREATE TEMP TABLE lbl AS SELECT doc_id, doc_id AS label FROM documents")
    rounds = 0
    while True:
        rounds += 1
        con.sql("""
            CREATE TEMP TABLE nl AS
            SELECT l.doc_id,
                   least(l.label,
                         coalesce(nb.m, l.label),
                         coalesce(pj.label, l.label)) AS label
            FROM lbl l
            LEFT JOIN (SELECT e.b AS doc_id, min(la.label) AS m
                       FROM edges e JOIN lbl la ON la.doc_id = e.a
                       GROUP BY e.b) nb ON nb.doc_id = l.doc_id
            LEFT JOIN lbl pj ON pj.doc_id = l.label""")
        changed = con.sql(
            "SELECT count(*) FROM nl JOIN lbl USING (doc_id) "
            "WHERE nl.label <> lbl.label").fetchone()[0]
        con.sql("DROP TABLE lbl")
        con.sql("ALTER TABLE nl RENAME TO lbl")
        if changed == 0:
            break
    print(f"label propagation: {rounds} rounds  {time.time()-t0:7.1f} s", flush=True)

    expected = con.sql("""
        SELECT doc_id, label AS group_id, doc_id = label AS is_canonical
        FROM lbl ORDER BY doc_id""").df()

    got = pd.read_parquet(sorted(glob.glob(f"{outdir}/p15_dd_neardup_groups/*.parquet")))
    got = got.sort_values("doc_id").reset_index(drop=True)
    expected = expected.sort_values("doc_id").reset_index(drop=True)

    ok = True
    if len(got) != len(expected):
        print(f"BAD row count: spark {len(got)} vs oracle {len(expected)}")
        ok = False
    else:
        for c in ["doc_id", "group_id", "is_canonical"]:
            if not (got[c].to_numpy() == expected[c].to_numpy()).all():
                bad = (got[c].to_numpy() != expected[c].to_numpy()).sum()
                print(f"BAD column {c}: {bad} mismatching rows")
                ok = False
    ncomp = con.sql("SELECT count(DISTINCT label) FROM lbl").fetchone()[0]
    print(("OK" if ok else "BAD") +
          f"  p15_dd_neardup_groups: {len(expected)} docs, {ncomp} components")

    if check_p50:
        exp50 = con.sql("""
            SELECT d.doc_id,
                   coalesce(m.dup_of, CAST(-1 AS BIGINT)) AS dup_of,
                   m.dup_of IS NOT NULL AS is_dup
            FROM documents d
            LEFT JOIN (SELECT id_b AS doc_id, CAST(min(id_a) AS BIGINT) AS dup_of
                       FROM prs GROUP BY id_b) m USING (doc_id)
            ORDER BY doc_id""").df().reset_index(drop=True)
        got50 = pd.read_parquet(
            sorted(glob.glob(f"{outdir}/p50_dd_stream_neardup/*.parquet")))
        got50 = got50.sort_values("doc_id").reset_index(drop=True)
        ok50 = len(got50) == len(exp50)
        if not ok50:
            print(f"BAD p50 row count: spark {len(got50)} vs oracle {len(exp50)}")
        else:
            for c in ["doc_id", "dup_of", "is_dup"]:
                if not (got50[c].to_numpy() == exp50[c].to_numpy()).all():
                    bad = (got50[c].to_numpy() != exp50[c].to_numpy()).sum()
                    print(f"BAD p50 column {c}: {bad} mismatching rows")
                    ok50 = False
        ndup = int(exp50["is_dup"].sum())
        print(("OK" if ok50 else "BAD") +
              f"  p50_dd_stream_neardup: {len(exp50)} docs, {ndup} flagged dups")
        ok = ok and ok50

    if check_p51:
        con.sql("CREATE TEMP TABLE grp AS SELECT doc_id, label AS group_id FROM lbl")
        exp51 = con.sql(final51).df().reset_index(drop=True)
        got51 = pd.read_parquet(
            sorted(glob.glob(f"{outdir}/p51_split_leakage_safe/*.parquet")))
        got51 = got51.sort_values("doc_id").reset_index(drop=True)
        ok51 = len(got51) == len(exp51)
        if not ok51:
            print(f"BAD p51 row count: spark {len(got51)} vs oracle {len(exp51)}")
        else:
            for c in ["doc_id", "group_id", "bucket", "split"]:
                if not (got51[c].to_numpy() == exp51[c].to_numpy()).all():
                    bad = (got51[c].to_numpy() != exp51[c].to_numpy()).sum()
                    print(f"BAD p51 column {c}: {bad} mismatching rows")
                    ok51 = False
        nval = int((exp51["split"] != "train").sum())
        print(("OK" if ok51 else "BAD") +
              f"  p51_split_leakage_safe: {len(exp51)} docs, {nval} in val/test")
        ok = ok and ok51

    if check_p75:
        con.sql("CREATE TEMP TABLE IF NOT EXISTS g AS "
                "SELECT doc_id, label AS group_id FROM lbl")
        con.sql(f"CREATE TEMP TABLE gd AS {ctes75['gd']}")
        exp75 = con.sql(f"WITH k AS ({ctes75['k']}) {final75}") \
            .df().reset_index(drop=True)
        got75 = pd.read_parquet(
            sorted(glob.glob(f"{outdir}/p75_dd_canonical/*.parquet")))
        got75 = got75.sort_values("group_id").reset_index(drop=True)
        ok75 = len(got75) == len(exp75)
        if not ok75:
            print(f"BAD p75 row count: spark {len(got75)} vs oracle {len(exp75)}")
        else:
            for c in ["group_id", "keep_id", "n_docs", "keep_chars",
                      "dropped_chars"]:
                if not (got75[c].to_numpy() == exp75[c].to_numpy()).all():
                    bad = (got75[c].to_numpy() != exp75[c].to_numpy()).sum()
                    print(f"BAD p75 column {c}: {bad} mismatching rows")
                    ok75 = False
        nsave = int(exp75["dropped_chars"].sum()) if len(exp75) else 0
        print(("OK" if ok75 else "BAD") +
              f"  p75_dd_canonical: {len(exp75)} multi-doc clusters, "
              f"{nsave} chars dropped")
        ok = ok and ok75
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
