#!/usr/bin/env python3
"""Staged sf1-scale oracle for p67_sim_cluster_stats (VERDICT r10 #3).

Semantics are IDENTICAL to the registered DuckDB oracle (salted-LSH
top-k -> mutual-kNN edges -> connected components -> per-cluster
size/edge stats); only the EVALUATION STRATEGY changes, exactly the
check_p15_sf1.py technique:

 1. Each named CTE stage (eb, sc, e, mut) is MATERIALIZED as a temp
    table, so the bucket self-join and its cosine window run once
    instead of being re-inlined per reference.
 2. The transitive closure (WITH RECURSIVE reach), quadratic in
    component size and the ~10-min wall at sf1 (SCALE.md addendum 9),
    is replaced by min-label propagation with pointer jumping over the
    SAME mutual edge list — converging to the same unique fixpoint
    (label = min vec_id reachable = the recursive CTE's min(b) over
    reach), in O(log n) rounds.

The stage SQL is parsed out of the oracle string the engine registers
(oracle_sql.json from a `Verify` dump, one filtered by
SPARK_GRAFT_ONLY will do), so this script cannot
drift from the registered semantics.

Usage: check_p67_sf1.py <sfDir> <verifyOutDir>
  (<verifyOutDir> must contain p67_sim_cluster_stats/*.parquet and
   oracle_sql.json with the p67 entry.)
"""
import sys, json, glob, os, time
import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_p15_sf1 import split_ctes


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    p = f"{sfdir}/embeddings.parquet"
    src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM {src}")

    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    oracle = oracles["p67_sim_cluster_stats"]
    ctes, order, final = split_ctes(oracle)
    assert order[:4] == ["eb", "sc", "e", "mut"], order

    # ---- stage 1: materialize the edge pipeline, one stage at a time
    for name in ["eb", "sc", "e", "mut"]:
        t0 = time.time()
        con.sql(f"CREATE TEMP TABLE {name} AS {ctes[name]}")
        n = con.sql(f"SELECT count(*) FROM {name}").fetchone()[0]
        print(f"stage {name:3s}: {n:>10} rows  {time.time()-t0:7.1f} s", flush=True)

    # ---- stage 2: min-label propagation with pointer jumping over the
    # mutual graph's vertex set (labels restricted to graph vertices —
    # p67 emits only clusters, singletons are the corpus)
    t0 = time.time()
    con.sql("CREATE TEMP TABLE edges AS "
            "SELECT a, b FROM mut UNION ALL SELECT b, a FROM mut")
    con.sql("CREATE TEMP TABLE lbl AS "
            "SELECT v, v AS label FROM "
            "(SELECT a AS v FROM mut UNION SELECT b FROM mut)")
    rounds = 0
    while True:
        rounds += 1
        con.sql("""
            CREATE TEMP TABLE nl AS
            SELECT l.v,
                   least(l.label,
                         coalesce(nb.m, l.label),
                         coalesce(pj.label, l.label)) AS label
            FROM lbl l
            LEFT JOIN (SELECT e.b AS v, min(la.label) AS m
                       FROM edges e JOIN lbl la ON la.v = e.a
                       GROUP BY e.b) nb ON nb.v = l.v
            LEFT JOIN lbl pj ON pj.v = l.label""")
        changed = con.sql(
            "SELECT count(*) FROM nl JOIN lbl USING (v) "
            "WHERE nl.label <> lbl.label").fetchone()[0]
        con.sql("DROP TABLE lbl")
        con.sql("ALTER TABLE nl RENAME TO lbl")
        if changed == 0:
            break
    print(f"label propagation: {rounds} rounds  {time.time()-t0:7.1f} s",
          flush=True)

    # ---- stage 3: the registered final aggregation, verbatim semantics
    expected = con.sql("""
        WITH mem AS (SELECT label AS grp, count(*) AS n_members
                     FROM lbl GROUP BY label),
        ec AS (SELECT l.label AS grp, count(*) AS n_edges
               FROM mut JOIN lbl l ON l.v = mut.a GROUP BY l.label)
        SELECT m.grp AS group_id, CAST(m.n_members AS BIGINT) AS n_members,
               CAST(ec.n_edges AS BIGINT) AS n_edges
        FROM mem m JOIN ec USING (grp) ORDER BY group_id""").df()

    got = pd.read_parquet(
        sorted(glob.glob(f"{outdir}/p67_sim_cluster_stats/*.parquet")))
    got = got.sort_values("group_id").reset_index(drop=True)
    expected = expected.sort_values("group_id").reset_index(drop=True)

    ok = True
    if len(got) != len(expected):
        print(f"BAD row count: spark {len(got)} vs oracle {len(expected)}")
        ok = False
    else:
        for c in ["group_id", "n_members", "n_edges"]:
            if not (got[c].to_numpy() == expected[c].to_numpy()).all():
                bad = (got[c].to_numpy() != expected[c].to_numpy()).sum()
                print(f"BAD column {c}: {bad} mismatching rows")
                ok = False
    nclusters = len(expected)
    nmembers = int(expected["n_members"].sum())
    print(("OK" if ok else "BAD") +
          f"  p67_sim_cluster_stats: {nclusters} clusters, "
          f"{nmembers} clustered vectors")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
