#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify output
against DuckDB oracles over the same parquet tables. Usage:
  python3 tools/check.py <sfdir> <verify_outdir> [query ...]
Queries may be named as separate arguments, as comma lists, or both; with
none, every oracle in <verify_outdir>/oracle_sql.json is checked. A named
query without an oracle is an error (exit 2), not a smaller check.
"""
import sys, json, glob, os
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p)[:-len(".parquet")]
    # scale fixtures write each table as a DIRECTORY of part files
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")

oracles = json.load(open(f"{outdir}/oracle_sql.json"))
# per-query runs: the sf1 scale gate wraps each query in its own timed
# subprocess
only = {q for arg in sys.argv[3:] for q in arg.split(",") if q}
if only:
    missing = sorted(only - oracles.keys())
    if missing:
        print(f"no oracle for: {', '.join(missing)}")
        sys.exit(2)
    oracles = {k: v for k, v in oracles.items() if k in only}
fails = 0
for name, sql in sorted(oracles.items()):
    res_dir = f"{outdir}/{name}"
    files = glob.glob(f"{res_dir}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark result parquet"); fails += 1; continue
    try:
        spark_df = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchdf()
        oracle_df = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"FAIL {name}: {e}"); fails += 1; continue
    sc = sorted(spark_df.columns); oc = sorted(oracle_df.columns)
    if sc != oc:
        print(f"FAIL {name}: columns spark={sc} oracle={oc}"); fails += 1; continue
    if len(spark_df) != len(oracle_df):
        print(f"FAIL {name}: rows spark={len(spark_df)} oracle={len(oracle_df)}"); fails += 1; continue
    s = spark_df[sc].reset_index(drop=True)
    o = oracle_df[sc].reset_index(drop=True)
    # normalize dtypes for compare (dates/timestamps -> str, float tolerance none: exact)
    mism = []
    for c in sc:
        sv, ov = s[c], o[c]
        try:
            sv2 = sv.astype(str); ov2 = ov.astype(str)
        except Exception:
            sv2, ov2 = sv, ov
        if not sv2.equals(ov2):
            bad = (sv2 != ov2)
            idx = bad[bad].index[:3].tolist()
            # numeric delta (when castable) distinguishes a 1-ulp rounding
            # boundary flip from a real logic error (round-2 advice)
            def delta(i):
                try:
                    return abs(float(sv.iloc[i]) - float(ov.iloc[i]))
                except Exception:
                    return None
            mism.append((c, [(i, sv2.iloc[i], ov2.iloc[i], delta(i)) for i in idx]))
    if mism:
        print(f"FAIL {name}: value mismatch {mism}")
        fails += 1
    else:
        print(f"OK   {name}: {len(s)} rows")
print(f"\n{'ALL GREEN' if fails == 0 else str(fails) + ' FAILURES'} / {len(oracles)} queries")
sys.exit(1 if fails else 0)
