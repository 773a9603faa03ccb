#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 benchmark/run.py --workload <ingest_bulk|catalog_ann>
        --seed <n> --seconds <s> --trace <0|1>
    python3 benchmark/run.py --self-test
    python3 benchmark/run.py --record-catalog

Run from the repository root. The first run builds the program and the
benchmark's Scala sources (benchmark/scala, put on the test classpath for
that one sbt invocation) and caches the classpath under .bench_build/;
later runs start the JVM directly. The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"} -- the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. See
benchmark/README.md for what each workload and metric means.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
FINGERPRINTS = os.path.join(HERE, "catalog_fingerprints.json")
JVM_TIMEOUT_S = 170
WORKLOADS = ("ingest_bulk", "catalog_ann")
CATALOG = ("x33_kmeans_train", "x90_cluster_quality", "x105_ivfpq_topk",
           "x106_ivfpq_recall", "x111_index_maintain")
# Spark on JDK 17 outside spark-submit needs these (as build.sbt sets them)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of every source the build compiles, to tell a stale cache."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src", "benchmark/scala"):
        p = os.path.join(ROOT, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs
            if f.endswith((".scala", ".sbt", ".properties")) and "target" not in d)
        for f in paths:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources here: run from the repository root")
    digest = sources_digest()
    stamp = os.path.join(BUILD, "digest")
    if os.path.isfile(CLASSPATH) and os.path.isfile(stamp) \
            and open(stamp).read() == digest:
        return open(CLASSPATH).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    cmd = ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
           'set Test / unmanagedSourceDirectories += '
           'baseDirectory.value / "benchmark" / "scala"',
           "Test/compile", "export Test/fullClasspath"]
    r = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=720)
    cp = [l for l in r.stdout.splitlines() if l.startswith("/")]
    if r.returncode != 0 or not cp:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"build failed (sbt exit {r.returncode})")
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp[-1]


def jvm(classpath, main, args, work):
    """Run one benchmark JVM; returns its stdout lines (echoed)."""
    os.makedirs(work, exist_ok=True)
    opts = [o for p in ADD_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false"]
           + opts + ["-cp", classpath, main] + args)
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True)
    # the run must end within its time limit even if the JVM hangs
    watchdog = threading.Timer(JVM_TIMEOUT_S, p.kill)
    watchdog.start()
    lines = []
    try:
        for line in p.stdout:
            line = line.rstrip("\n")
            lines.append(line)
            if not line.startswith("BENCH_RESULT "):
                print(line, flush=True)
        p.wait()
    finally:
        watchdog.cancel()
        if p.poll() is None:
            p.kill()
            p.wait()
    if p.returncode != 0:
        fail(f"{main} exited {p.returncode}")
    return lines


# --- catalog result fingerprints ------------------------------------------

def canon(v):
    """Engine-neutral text of one value: integral numbers as integers,
    other floats in hex (exact), lists element-wise."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v.is_integer() and abs(v) < 2 ** 53:
            return str(int(v))
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if hasattr(v, "as_tuple"):  # Decimal
        return canon(float(v))
    return repr(v)


def fingerprint_rows(columns, rows):
    """SHA-256 over the rows in order, columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256()
    h.update(("|".join(columns[i] for i in order) + "\n").encode())
    for r in rows:
        h.update(("|".join(canon(r[i]) for i in order) + "\n").encode())
    return h.hexdigest()


def fingerprint_parquet(path):
    import pyarrow.parquet as pq
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    columns, rows = None, []
    for f in files:
        t = pq.read_table(os.path.join(path, f))
        columns = t.column_names
        cols = [t.column(c).to_pylist() for c in columns]
        rows.extend(zip(*cols))
    return fingerprint_rows(columns or [], rows)


def check_catalog(out_dir, expected):
    """Names of the catalog queries whose result fingerprint differs."""
    bad = []
    for q in CATALOG:
        p = os.path.join(out_dir, q)
        got = fingerprint_parquet(p) if os.path.isdir(p) else None
        if got != expected.get(q):
            bad.append(q)
    return bad


# --- entry points ---------------------------------------------------------

def run(args):
    cp = build()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        lines = jvm(cp, "graft.bench.Bench",
                    ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--work", work], work)
        res = [l for l in lines if l.startswith("BENCH_RESULT ")]
        if not res:
            fail("the benchmark JVM printed no result")
        out = json.loads(res[-1][len("BENCH_RESULT "):])
        if args.workload == "catalog_ann":
            expected = (json.load(open(FINGERPRINTS))
                        if os.path.isfile(FINGERPRINTS) else {})
            bad = check_catalog(os.path.join(work, "out"), expected)
            for q in bad:
                print(f"query {q}: result fingerprint differs from the recorded one")
            out["failed"] += len(bad)
        if args.trace:
            keep = os.path.join(BUILD, "traces")
            os.makedirs(keep, exist_ok=True)
            spans = os.path.join(work, "spans.json")
            if os.path.isfile(spans):
                shutil.copy(spans, os.path.join(keep, f"{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out["failed"] = min(out["failed"], out["attempted"])
    failed_share = out["failed"] / out["attempted"]
    print(f"metric failed_share {failed_share:.6g} ratio "
          f"({out['failed']} of {out['attempted']})")
    for name, m in out["metrics"].items():
        print(f"metric {name} {m['value']:.6g} {m['unit']}")
    result = {"correct": out["failed"] == 0, "attempted": out["attempted"],
              "failed": out["failed"], "metrics": out["metrics"]}
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-catalog", action="store_true")
    args = ap.parse_args()
    if args.self_test:
        import selftest
        return selftest.main(sys.modules[__name__])
    if args.record_catalog:
        import record_catalog
        return record_catalog.main(sys.modules[__name__])
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
