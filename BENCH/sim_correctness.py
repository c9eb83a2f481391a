#!/usr/bin/env python3
"""Local simulation of the driver's correctness gate: run graft.Verify
first (sbt -batch "runMain graft.Verify <sfDir> <outDir>"), then this
script compares each outDir/<name> parquet against the DuckDB oracle in
outDir/oracle_sql.json, with the sf tables registered by name. Every
oracle key with no output directory is reported as missing_output:
graft.Verify logs and skips a query that throws, so it would otherwise
vanish from the report. Exits 1 on any red or missing row.

Usage: python3 BENCH/sim_correctness.py <sfDir> <outDir>
"""
import duckdb, glob, hashlib, json, os, sys

def frame_hash(rel):
    # driver semantics per memory: sort columns by name, hash values
    cols = sorted(rel.columns)
    rel2 = rel.project(", ".join(f'"{c}"' for c in cols))
    rows = rel2.fetchall()
    rows = sorted(repr(r) for r in rows)
    h = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return len(rows), [str(t) for t in rel2.types], h

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    for q in sorted(os.listdir(out_dir)):
        qdir = os.path.join(out_dir, q)
        if not os.path.isdir(qdir) or q in ("materialized",):
            continue
        spark_rel = con.sql(f"SELECT * FROM read_parquet('{qdir}/*.parquet')")
        n_s, t_s, h_s = frame_hash(spark_rel)
        if q not in oracle:
            results[q] = {"err": "no_oracle", "spark_rows": n_s}
            continue
        try:
            n_o, t_o, h_o = frame_hash(con.sql(oracle[q]))
        except Exception as e:
            results[q] = {"err": f"oracle_failed: {e}", "spark_rows": n_s}
            continue
        results[q] = {
            "rows_match": n_s == n_o, "schema_match": t_s == t_o,
            "hash_match": h_s == h_o, "spark_rows": n_s, "oracle_rows": n_o,
            "types": None if t_s == t_o else {"spark": t_s, "oracle": t_o},
        }
    for q in oracle:
        if q not in results:
            results[q] = {"err": "missing_output"}
    ok = True
    for q, r in sorted(results.items()):
        line = json.dumps({q: r})
        print(line)
        if r.get("err") or not (r.get("rows_match") and r.get("schema_match") and r.get("hash_match")):
            ok = False
    print("ALL GREEN" if ok else "RED ROWS PRESENT")
    return 0 if ok else 1

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
