#!/usr/bin/env python3
"""Local differential check mimicking the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py [sfdir] [outdir]
  1. expects `sbt "runMain graft.Verify <sfdir> <outdir>"` to have run,
  2. loads <outdir>/oracle_sql.json, registers the sf parquet tables in
     DuckDB, runs each oracle query,
  3. compares to the Spark parquet output: columns sorted by name, rows
     sorted by all columns, exact value match (floats compared to 1e-9
     after the queries' own rounding).
  An oracle query that fails itself prints `FAIL <q>: oracle error: ...`.
  DuckDB spills its temp files into <outdir>/.duckdb_tmp.
"""
import glob, json, math, os, sys
import duckdb

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# DuckDB spills to temp files under the output dir, not the cwd
con = duckdb.connect(
    config={"temp_directory": os.path.join(outdir, ".duckdb_tmp")})
for t in TABLES:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
                if v == -0.0: v = 0.0
            rr.append(v)
        out.append(tuple(rr))
    return sorted(out, key=lambda x: tuple(
        (v is None, str(type(v)), v if not isinstance(v, (list, dict)) else str(v))
        for v in x)), [cols[i] for i in order]

def val_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return a == b
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(val_eq(x, y) for x, y in zip(a, b))
    return a == b

def rows_eq(a, b):
    return len(a) == len(b) and all(val_eq(x, y) for x, y in zip(a, b))

# manifest of queries Verify ATTEMPTED (written before any runs): a
# query that crashed inside Verify leaves no output dir — with the
# manifest that is a FAIL, not a silent skip. Only queries absent from
# the manifest (subset runs) are legitimately skipped; without a
# manifest (older dumps) every oracle entry is expected.
try:
    attempted = set(json.load(open(f"{outdir}/attempted.json")))
except FileNotFoundError:
    attempted = None

fails = 0

# rows-only queries (no oracle): output must exist and be non-empty;
# an attempted rows-only query with no output dir crashed -> FAIL
for name in sorted(attempted or []):
    if name not in oracle and not os.path.isdir(f"{outdir}/{name}"):
        print(f"FAIL {name} (rows-only): no output dir (crashed in Verify?)")
        fails += 1
for d in sorted(glob.glob(f"{outdir}/q*")):
    name = os.path.basename(d)
    if name in oracle or not os.path.isdir(d):
        continue
    try:
        n = con.execute(f"SELECT count(*) FROM '{d}/*.parquet'").fetchone()[0]
        if n > 0:
            print(f"ROWS {name} (rows-only, {n} rows)")
        else:
            print(f"FAIL {name} (rows-only, 0 rows)")
            fails += 1
    except Exception as e:
        print(f"FAIL {name} (rows-only): {e}")
        fails += 1
for name, sql in sorted(oracle.items()):
    if not os.path.isdir(f"{outdir}/{name}"):
        if attempted is None or name in attempted:
            print(f"FAIL {name}: no output dir (query crashed in Verify?)")
            fails += 1
        continue  # not attempted: subset Verify run (3rd arg)
    try:
        spark_rel = con.execute(
            f"SELECT * FROM '{outdir}/{name}/*.parquet'")
        spark_cols = [d[0] for d in spark_rel.description]
        spark_rows = spark_rel.fetchall()
    except Exception as e:
        print(f"FAIL {name}: {e}")
        fails += 1
        continue
    try:
        duck_rel = con.execute(sql)
        duck_cols = [d[0] for d in duck_rel.description]
        duck_rows = duck_rel.fetchall()
    except Exception as e:
        # the oracle itself failed (e.g. DuckDB out of memory): still a
        # failure, reported apart from an engine-side mismatch
        print(f"FAIL {name}: oracle error: {e}")
        fails += 1
        continue
    s_rows, s_cols = canon(spark_rows, spark_cols)
    d_rows, d_cols = canon(duck_rows, duck_cols)
    if s_cols != d_cols:
        print(f"FAIL {name}: columns differ\n  spark={s_cols}\n  duck ={d_cols}")
        fails += 1
        continue
    if len(s_rows) != len(d_rows):
        print(f"FAIL {name}: row count spark={len(s_rows)} duck={len(d_rows)}")
        print(f"  spark[:3]={s_rows[:3]}\n  duck [:3]={d_rows[:3]}")
        fails += 1
        continue
    bad = None
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        if not rows_eq(a, b):
            bad = (i, a, b)
            break
    if bad:
        print(f"FAIL {name}: row {bad[0]} differs\n  spark={bad[1]}\n  duck ={bad[2]}")
        fails += 1
    else:
        print(f"PASS {name} ({len(s_rows)} rows)")

sys.exit(1 if fails else 0)
