"""End-to-end benchmark of the replication path and the query inventory.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the harness
(`build.py`), writes the sweep tables once (`tables.py`), runs one
fresh JVM (`e2ebench.Main`) over set-up, backfill, live replication with
pull queries, and the query sweep, checks the swept queries against the
repository's DuckDB oracle SQL, and prints one JSON object as the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones (plus a self-time table printed above the result).
See e2ebench/README.md for every metric and workload.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("uniform_keys", "hot_keys")
WORK = ".bench_work"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_jvm(classpath, args, work):
    for d in ("tmp", "spark-local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    a = os.path.abspath(work)
    # the heap starts at 512 MB and grows with the program's use
    cmd = ["java", "-Xms512m", "-Xmx1536m", "-Xss4m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={a}/tmp", f"-Dspark.local.dir={a}/spark-local",
            f"-Dspark.sql.warehouse.dir={a}/warehouse", f"-Dderby.system.home={a}/derby",
            f"-Dderby.stream.error.file={a}/derby/derby.log",
            # Derby shares compiled statements across connections; its
            # MERGE recompile after an ALTER can race between the sink's
            # concurrent partitions (NullPointerException in executeBatch)
            "-Dderby.language.statementCacheSize=0",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", ":".join(classpath + [f"{build.spark_jars()}/*"]), "e2ebench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=a)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            log("".join(fh.readlines()[-40:]))
        raise SystemExit(f"benchmark JVM failed ({code}); log in {work}/jvm.log")


def canonical(df):
    """Rows as sorted text tuples, columns in name order. Doubles compare
    at ten significant digits: the two engines sum in different orders."""
    def cell(v):
        if isinstance(v, float):
            return f"{v:.10g}"
        if hasattr(v, "tolist"):
            return str([cell(x) for x in v.tolist()])
        return str(v)
    cols = sorted(df.columns)
    return sorted(tuple(cell(v) for v in row) for row in df[cols].itertuples(index=False))


def sweep_tables():
    """The sweep tables, written once per checkout and version of
    `tables.py`: every run sweeps the same tables."""
    with open(tables.__file__, "rb") as fh:
        tdir = os.path.join(WORK, "tables-" + hashlib.sha256(fh.read()).hexdigest()[:12])
    if not os.path.exists(os.path.join(tdir, "done")):
        shutil.rmtree(tdir, ignore_errors=True)
        tables.generate(tdir)
        open(os.path.join(tdir, "done"), "w").close()
    return os.path.abspath(tdir)


def oracle_check(work, tdir):
    """Each swept query's Spark result against the repository's DuckDB
    oracle SQL over the same tables. Returns (attempted, failed, notes)."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(tdir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    attempted = failed = 0
    notes = []
    for q, sql in sorted(oracle.items()):
        attempted += 1
        mine = con.execute(
            f"SELECT * FROM read_parquet('{os.path.join(work, 'results', q)}/*.parquet')").fetchdf()
        ref = con.execute(sql).fetchdf()
        ok = (sorted(mine.columns) == sorted(ref.columns) and len(mine) == len(ref) and
              canonical(mine) == canonical(ref))
        if not ok:
            failed += 1
            notes.append(f"{q}: result differs from the DuckDB oracle")
    return attempted, failed, notes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classpath = build.build()
    except subprocess.CalledProcessError as e:
        raise SystemExit(f"build failed: {e}")
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tdir = sweep_tables()
    out = os.path.join(os.path.abspath(work), "result.json")
    run_jvm(classpath, [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", os.path.abspath(work),
        "--tables", tdir, "--out", out], work)
    with open(out) as fh:
        res = json.load(fh)
    o_att, o_fail, o_notes = oracle_check(work, tdir)
    attempted = res["attempted"] + o_att
    failed = res["failed"] + o_fail
    for note in res["mismatches"] + o_notes:
        log(f"mismatch: {note}")
    print(f"samples: {json.dumps(res['samples'])}; generator lateness ms: "
          f"{json.dumps(res['generator_late_ms'])}; backlog growth: {res['backlog_growth']}")
    if args.trace:
        print(f"{'span':<28}{'count':>7}{'total_ms':>12}{'self_ms':>12}")
        for s in res["self_time"]:
            print(f"{s['span']:<28}{s['count']:>7}{s['total_ms']:>12.1f}{s['self_ms']:>12.1f}")
    metrics = res["metrics"]
    missing = [k for k, v in metrics.items() if v["value"] is None]
    if missing:
        raise SystemExit(f"metrics without a value: {missing}")
    with open("BENCHMARK.json") as fh:
        declared = [m["name"] for m in json.load(fh)["per_layer" if args.trace else "end_to_end"]]
    if sorted(declared) != sorted(metrics):
        raise SystemExit(f"metrics {sorted(metrics)} differ from BENCHMARK.json's {sorted(declared)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
