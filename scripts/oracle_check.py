#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each <name>.parquet in
the Verify output dir, look up its oracle SQL (under either the bare name or
the "<name>.parquet" key), run it in DuckDB against the sf parquet tables,
and compare rows / schema (column names) / a value hash with columns sorted
by name. Exits non-zero if any oracle-equipped entry mismatches, so a dark
gate fails the build instead of silently passing.

With `--baseline <other_verify_out_dir>` it also compares every entry's
output table (no-oracle entries included) with the same entry in the other
dump, hashing floats at full precision, and fails on any difference: the
before/after identity check for a refactor.

Usage: scripts/oracle_check.py <verify_out_dir> <sf_dir> [--baseline <dir>]
(Driver-side tooling only — python/duckdb are not dependencies of the
library itself.)
"""
import sys, os, json, math, hashlib, argparse
import duckdb

ap = argparse.ArgumentParser()
ap.add_argument("out_dir")
ap.add_argument("sf_dir")
ap.add_argument("--baseline", help="another Verify output dir to compare with")
args = ap.parse_args()
out_dir, sf_dir = args.out_dir, args.sf_dir
with open(os.path.join(out_dir, "oracle_sql.json")) as f:
    oracles = json.load(f)

con = duckdb.connect()
for t in ("documents", "embeddings", "lineitem", "orders", "customer",
          "supplier", "part", "nation", "region", "events"):
    p = os.path.join(sf_dir, f"{t}.parquet")
    if os.path.isdir(p):  # Spark-written directory (SfGen output)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
    elif os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

def norm(v, full=False):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # fixed 6-dp repr (not %.6g): both pipelines round scores to 6
        # decimal places, so any 6-dp difference must fail the hash even
        # for values >= 10 where %.6g would compare fewer decimals; `full`
        # keeps every bit, for the engine-vs-engine baseline comparison
        return repr(v if full else round(v, 6))
    return str(v)

def table_hash(cols, rows, full=False):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm(r[i], full) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()

def dump(root, d):
    rel = con.sql(f"SELECT * FROM '{os.path.join(root, d)}/*.parquet'")
    return list(rel.columns), rel.fetchall()

def entries(root):
    return {d for d in os.listdir(root) if d.endswith(".parquet")}

fail, no_oracle, ok = [], [], []
base_diff, base_same = [], 0
if args.baseline:
    mine, theirs = entries(out_dir), entries(args.baseline)
    for d in sorted(mine ^ theirs):
        base_diff.append((d, "only in " + (out_dir if d in mine else args.baseline)))
    for d in sorted(mine & theirs):
        (a_cols, a_rows), (b_cols, b_rows) = dump(out_dir, d), dump(args.baseline, d)
        if sorted(a_cols) != sorted(b_cols):
            base_diff.append((d, f"schema {sorted(a_cols)} != {sorted(b_cols)}"))
        elif table_hash(a_cols, a_rows, True) != table_hash(b_cols, b_rows, True):
            base_diff.append((d, f"full-precision hash differs ({len(a_rows)} vs {len(b_rows)} rows)"))
        else:
            base_same += 1

for d in sorted(entries(out_dir)):
    name = d[: -len(".parquet")]
    sql = oracles.get(name) or oracles.get(d)
    s_cols, s_rows = dump(out_dir, d)
    if not sql:
        no_oracle.append((name, len(s_rows)))
        continue
    try:
        o = con.sql(sql)
        o_cols, o_rows = list(o.columns), o.fetchall()
    except Exception as e:
        fail.append((name, f"oracle SQL error: {e}"))
        continue
    if len(s_rows) != len(o_rows):
        fail.append((name, f"rows {len(s_rows)} != oracle {len(o_rows)}"))
    elif sorted(s_cols) != sorted(o_cols):
        fail.append((name, f"schema {sorted(s_cols)} != {sorted(o_cols)}"))
    elif table_hash(s_cols, s_rows) != table_hash(o_cols, o_rows):
        fail.append((name, f"hash mismatch ({len(s_rows)} rows)"))
    else:
        ok.append((name, len(s_rows)))

for name, n in ok:
    print(f"PASS  {name} ({n} rows)")
for name, n in no_oracle:
    print(f"SKIP  {name} (no SQL oracle; {n} rows)")
for name, why in fail:
    print(f"FAIL  {name}: {why}")
print(f"\n{len(ok)} pass, {len(no_oracle)} no-oracle, {len(fail)} fail")
if args.baseline:
    for d, why in base_diff:
        print(f"DIFF  {d}: {why}")
    print(f"baseline {args.baseline}: {base_same} identical, {len(base_diff)} differ")
sys.exit(1 if fail or base_diff else 0)
