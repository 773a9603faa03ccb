"""Record the catalog_ann result fingerprints from an oracle-checked run.

    python3 benchmark/run.py --record-catalog

Writes the fixed catalog corpus, runs `graft.Verify` over it for the five
queries (their results plus oracle_sql.json, as the repository's
correctness gate does), evaluates each oracle SQL with DuckDB over the
same corpus, and records the fingerprints in
benchmark/catalog_fingerprints.json only if every Spark result equals its
oracle result value for value. Rerun it only when a query's defined
answer changes.
"""
import json
import os
import shutil


def main(run):
    import duckdb
    cp = run.build()
    work = os.path.join(run.BUILD, "record-catalog")
    shutil.rmtree(work, ignore_errors=True)
    corpus, out = os.path.join(work, "corpus"), os.path.join(work, "verify")
    try:
        run.jvm(cp, "graft.bench.Bench",
                ["--workload", "catalog_corpus", "--work", corpus], work)
        run.jvm(cp, "graft.Verify", [corpus, out] + list(run.CATALOG), work)
        oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
        con = duckdb.connect()
        con.execute("CREATE VIEW embeddings AS SELECT * FROM read_parquet("
                    f"'{corpus}/embeddings.parquet/*.parquet')")
        prints, bad = {}, []
        for q in run.CATALOG:
            r = con.execute(oracle[q])
            cols = [d[0] for d in r.description]
            want = run.fingerprint_rows(cols, r.fetchall())
            got = run.fingerprint_parquet(os.path.join(out, q))
            print(f"{q}: spark {got[:16]} oracle {want[:16]}")
            if got != want:
                bad.append(q)
            prints[q] = want
        if bad:
            run.fail("Spark and the oracle disagree on " + ", ".join(bad))
        with open(run.FINGERPRINTS, "w") as fh:
            json.dump(prints, fh, indent=2, sort_keys=True)
            fh.write("\n")
        print(f"recorded {run.FINGERPRINTS}")
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
