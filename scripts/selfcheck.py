#!/usr/bin/env python3
"""Local approximation of the driver's t2 correctness gate.

Runs after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
for each query output parquet + its oracle SQL, executes the oracle in
DuckDB over the same tables, sorts columns by name and rows by value, and
compares cell-by-cell. Exact match required for non-floats; floats must be
bit-equal too (queries round on both sides), but we report near-misses
separately to distinguish rounding noise from real bugs.

Usage: python3 scripts/selfcheck.py [sfDir] [outDir]

Parity mode compares two Verify output directories, e.g. a parent commit's
against a change's: every query directory in either must exist in both with
the same columns and, after sorting, the same rows; doubles compare by their
bits, so -0.0 vs 0.0 or two NaN payloads count as differences.

Usage: python3 scripts/selfcheck.py --parity parentOutDir changeOutDir [q1,q2,...]
"""
import json, math, sys, glob, os, struct
import duckdb


def parity(dir_a, dir_b, only=None):
    con = duckdb.connect()
    def names(d):
        return {os.path.basename(os.path.dirname(p)) for p in glob.glob(f"{d}/*/*.parquet")}
    qs = names(dir_a) | names(dir_b)
    qs = sorted(qs & only if only else qs)
    def cell(v):
        return ("f", struct.unpack("<q", struct.pack("<d", v))[0]) if isinstance(v, float) else v
    def table(d, q):
        if not glob.glob(f"{d}/{q}/*.parquet"):
            return None, None
        rel = con.execute(f"SELECT * FROM read_parquet('{d}/{q}/*.parquet')")
        cols = [c[0] for c in rel.description]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        rows = [tuple(cell(r[i]) for i in order) for r in rel.fetchall()]
        rows.sort(key=lambda row: tuple((x is None, str(type(x)), str(x)) for x in row))
        return [cols[i] for i in order], rows
    fails = []
    for q in qs:
        (ca, ra), (cb, rb) = table(dir_a, q), table(dir_b, q)
        if ra is None or rb is None:
            msg = f"missing in {dir_a if ra is None else dir_b}"
        elif ca != cb:
            msg = f"columns {ca} vs {cb}"
        elif len(ra) != len(rb):
            msg = f"row count {len(ra)} vs {len(rb)}"
        else:
            diff = [i for i, (x, y) in enumerate(zip(ra, rb)) if x != y]
            msg = f"{len(diff)} rows differ, first row {diff[0]}: {ra[diff[0]]} vs {rb[diff[0]]}" if diff else None
        if msg:
            print(f"DIFF {q}: {msg}")
            fails.append(q)
        else:
            print(f"SAME {q} ({len(ra)} rows)")
    print(f"\n{len(qs) - len(fails)} same, {len(fails)} differ: {fails}")
    return 1 if fails or not qs else 0


if len(sys.argv) > 1 and sys.argv[1] == "--parity":
    only = set(sys.argv[4].split(",")) if len(sys.argv) > 4 else None
    sys.exit(parity(sys.argv[2], sys.argv[3], only))

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v

def fetch_sorted(rel, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(norm_cell(r[i]) for i in order) for r in rel]
    rows.sort(key=lambda row: tuple((x is None, str(type(x)), str(x)) for x in row))
    return [cols[i] for i in order], rows

n_pass = n_fail = 0
fails = []
for name in sorted(oracle):
    qdir = f"{outdir}/{name}"
    if not glob.glob(f"{qdir}/*.parquet"):
        print(f"FAIL {name}: no spark output")
        n_fail += 1; fails.append(name); continue
    try:
        spark_rel = con.execute(f"SELECT * FROM read_parquet('{qdir}/*.parquet')")
        scols = [d[0] for d in spark_rel.description]
        scols2, srows = fetch_sorted(spark_rel.fetchall(), scols)
        o_rel = con.execute(oracle[name])
        ocols = [d[0] for d in o_rel.description]
        ocols2, orows = fetch_sorted(o_rel.fetchall(), ocols)
    except Exception as e:
        print(f"FAIL {name}: exec error: {e}")
        n_fail += 1; fails.append(name); continue

    if [c.lower() for c in scols2] != [c.lower() for c in ocols2]:
        print(f"FAIL {name}: column mismatch spark={scols2} oracle={ocols2}")
        n_fail += 1; fails.append(name); continue
    if len(srows) != len(orows):
        print(f"FAIL {name}: row count spark={len(srows)} oracle={len(orows)}")
        n_fail += 1; fails.append(name); continue
    bad = None
    near = 0
    for i, (a, b) in enumerate(zip(srows, orows)):
        if a != b:
            # classify: float near-miss vs hard mismatch
            is_near = len(a) == len(b) and all(
                (x == y) or (isinstance(x, float) and isinstance(y, float)
                             and abs(x - y) <= 1e-9 * max(1.0, abs(x), abs(y)))
                for x, y in zip(a, b))
            if is_near:
                near += 1
            else:
                bad = (i, a, b)
                break
    if bad:
        i, a, b = bad
        print(f"FAIL {name}: row {i} spark={a} oracle={b}")
        n_fail += 1; fails.append(name)
    elif near:
        print(f"NEAR {name}: {near} float near-miss rows (would fail a strict hash!)")
        n_fail += 1; fails.append(name)
    else:
        print(f"PASS {name} ({len(srows)} rows)")
        n_pass += 1

print(f"\n{n_pass} pass, {n_fail} fail: {fails}")
sys.exit(1 if n_fail else 0)
