"""The benchmark's self-tests: `python3 benchmark/run.py --self-test`.

The JVM half (graft.bench.SelfTest) checks the generator's determinism,
the percentile helper, and that the ingest_bulk output
checks fail on a dropped, duplicated, off-filter or changed row. This
half checks that the catalog_ann fingerprint check fails on one changed
query result and passes an unchanged copy.
"""
import os
import shutil


def catalog_check(run, work):
    import pyarrow as pa
    import pyarrow.parquet as pq
    failures = 0

    def expect(what, ok):
        nonlocal failures
        print(("ok   " if ok else "FAIL ") + what)
        failures += 0 if ok else 1

    table = pa.table({"cid": pa.array([0, 1, 2], pa.int32()),
                      "centroid": pa.array([0.125, -0.5, 1 / 3], pa.float64()),
                      "members": pa.array([[1, 2], [3], []], pa.list_(pa.int64()))})
    q = run.CATALOG[0]
    good = os.path.join(work, "good", q)
    os.makedirs(good)
    pq.write_table(table, os.path.join(good, "part-0.parquet"))
    expected = {name: None for name in run.CATALOG}
    expected[q] = run.fingerprint_parquet(good)
    expect("catalog check passes an unchanged result",
           q not in run.check_catalog(os.path.join(work, "good"), expected))
    changed = os.path.join(work, "changed", q)
    os.makedirs(changed)
    values = table.column("centroid").to_pylist()
    values[2] = values[2] + 2 ** -50  # one ulp-scale change in one value
    pq.write_table(table.set_column(1, "centroid", pa.array(values, pa.float64())),
                   os.path.join(changed, "part-0.parquet"))
    expect("catalog check fails on one changed query result",
           q in run.check_catalog(os.path.join(work, "changed"), expected))
    expect("catalog check fails on a missing query result",
           q in run.check_catalog(os.path.join(work, "missing"), expected))
    return failures


def main(run):
    cp = run.build()
    work = os.path.join(run.BUILD, "self-test")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        failed = catalog_check(run, work)
        run.jvm(cp, "graft.bench.SelfTest", [os.path.join(work, "jvm")], work)
    except SystemExit:
        failed = 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("self-test " + ("passed" if failed == 0 else "FAILED"))
    return 0 if failed == 0 else 1
