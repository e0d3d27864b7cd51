#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev feedback loop only;
not part of the library). Runs graft.Verify at a given SF, then executes
each oracle_sql.json query in DuckDB over the same parquet tables and
compares: schema (sorted column names), row count, and values (rows sorted,
NaN==NaN, float tolerance configurable; default exact-after-round like a
hash compare would see)."""
import json, math, subprocess, sys, glob, os
import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
ONLY = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def run_verify():
    cp = "target/scala-2.13/classes:" + ":".join(glob.glob("/opt/spark/jars/*.jar"))
    opens = []
    for p in ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
              "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
              "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
              "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]:
        opens += ["--add-opens", p + "=ALL-UNNAMED"]
    # cores: GraftSession.cpus (SPARK_GRAFT_CPUS, else the host's count)
    cmd = ["java"] + opens + [f"-Xmx{half_mem_gb(8)}g", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.Verify", SF_DIR, OUT]
    r = subprocess.run(cmd, capture_output=True, text=True)
    for line in r.stderr.splitlines():
        if "[verify]" in line or "Exception" in line:
            print(line)
    if r.returncode != 0:
        print("verify FAILED rc=", r.returncode)
        print(r.stderr[-4000:])
        sys.exit(1)

def norm(v):
    if v is None: return None
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return v
    return v

def half_mem_gb(cap):
    """Half the host's MemTotal in GB, clamped to 2..cap — the rule that
    sizes SPARK_DRIVER_MEM for the test suite (ROADMAP's tier-1 command,
    cap 8). A fixed size above physical memory lets the process grow
    until the OS kills it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return 2
    return min(cap, max(2, kb // 2097152))

def duckdb_memory_limit():
    """DuckDB spills instead of dying when its limit fits the host."""
    return f"{half_mem_gb(48)}GB"

def compare():
    con = duckdb.connect()
    # let heavy oracles (the unrolled two-stage PQ mirrors at sf0.1)
    # spill to disk instead of dying on DuckDB's in-memory limit
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    con.execute(f"SET memory_limit='{duckdb_memory_limit()}'")
    for t in TABLES:
        f = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(f):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    fails = 0
    for name, sql in sorted(oracle.items()):
        if ONLY and name not in ONLY: continue
        spark_dir = f"{OUT}/{name}"
        if not os.path.isdir(spark_dir):
            print(f"FAIL {name}: no spark output"); fails += 1; continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')").fetchdf()
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {e}"); fails += 1; continue
        gc, ec = sorted(got.columns), sorted(exp.columns)
        if gc != ec:
            print(f"FAIL {name}: columns {gc} != {ec}"); fails += 1; continue
        got, exp = got[gc], exp[ec]
        if len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} != {len(exp)}"); fails += 1; continue
        grows = sorted([tuple(norm(v) for v in r) for r in got.itertuples(index=False)],
                       key=lambda r: tuple(str(x) for x in r))
        erows = sorted([tuple(norm(v) for v in r) for r in exp.itertuples(index=False)],
                       key=lambda r: tuple(str(x) for x in r))
        bad = None
        for i, (g, e) in enumerate(zip(grows, erows)):
            if g != e:
                bad = (i, g, e); break
        if bad:
            print(f"FAIL {name}: first row diff at {bad[0]}:\n  spark:  {bad[1]}\n  oracle: {bad[2]}")
            fails += 1
        else:
            print(f"OK   {name}: {len(got)} rows")
    return fails

if __name__ == "__main__":
    if os.environ.get("SKIP_VERIFY") != "1":
        run_verify()
    sys.exit(1 if compare() else 0)
