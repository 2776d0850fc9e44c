#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run graft.Verify at a given
sf, then compare each query's parquet output against its DuckDB oracle
(columns sorted by name, rows sorted, values compared). Usage:
  python3 tools/check_correctness.py [sfdir] [outdir] [--skip-verify]
  python3 tools/check_correctness.py [sfdir] [outdir] --compare-oracles OLD.json

--compare-oracles runs no Spark: for every key shared by OLD.json and
<outdir>/oracle_sql.json it reports whether the two results are identical
(same columns, dtypes and sorted rows) on the same DuckDB tables. A key
whose SQL text is byte-identical on both sides is reported as
sql_text_same without running it; every other distinct SQL text runs once.
A full oracle_sql.json is written by any graft.Verify run, e.g.
  SPARK_GRAFT_VERIFY_ONLY=ever_current sbt "runMain graft.Verify <sfdir> <outdir>"
"""
import sys, os, json, subprocess, glob
import duckdb

old_oracles = None
if "--compare-oracles" in sys.argv:
    i = sys.argv.index("--compare-oracles")
    old_oracles = sys.argv[i + 1]
    del sys.argv[i:i + 2]

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"


def compare_frames(got, exp):
    """Compare two result frames the way the correctness gate does:
    columns sorted by name, rows sorted by value; report schema, row
    count and value match."""
    row = {}
    got2 = got[sorted(got.columns)].sort_values(by=sorted(got.columns)).reset_index(drop=True)
    exp2 = exp[sorted(exp.columns)].sort_values(by=sorted(exp.columns)).reset_index(drop=True)
    row["schema_match"] = list(got2.columns) == list(exp2.columns) and \
        [str(t) for t in got2.dtypes] == [str(t) for t in exp2.dtypes]
    row["rows_match"] = len(got2) == len(exp2)
    row["hash_match"] = row["rows_match"] and got2.equals(exp2)
    if not row["hash_match"] and row["rows_match"]:
        diff = (got2 != exp2) & ~(got2.isna() & exp2.isna())
        badcols = [c for c in got2.columns if diff[c].any()]
        row["diff_cols"] = badcols[:5]
    if not row["schema_match"]:
        row["got_schema"] = {c: str(t) for c, t in zip(got.columns, got.dtypes)}
        row["exp_schema"] = {c: str(t) for c, t in zip(exp.columns, exp.dtypes)}
    if not row["rows_match"]:
        row["exp_rows"] = len(exp2)
    return row


if old_oracles is None and "--skip-verify" not in sys.argv:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {sfdir} {outdir}'],
        cwd="/root/repo", capture_output=True, text=True)
    sys.stdout.write(r.stdout[-3000:])
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        sys.exit(1)

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p)[:-8]
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

if old_oracles is not None:
    old = json.load(open(old_oracles))
    shared = sorted(set(old) & set(oracle))
    # byte-identical SQL text needs no run; each distinct changed text runs
    # once, its frame shared by every key that uses it
    frames = {}

    def run(sql):
        if sql not in frames:
            frames[sql] = con.sql(sql).df()
        return frames[sql]

    results = {}
    for name in shared:
        row = {"sql_text_same": old[name] == oracle[name]}
        if not row["sql_text_same"]:
            try:
                new_df = run(oracle[name])
                row["rows"] = len(new_df)
                row.update(compare_frames(new_df, run(old[name])))
            except Exception as e:
                row["oracle_error"] = str(e)[:300]
        results[name] = row
    ok = all(r["sql_text_same"] or (r.get("hash_match") and r.get("schema_match"))
             for r in results.values())
    changed = [k for k, r in results.items() if not r["sql_text_same"]]
    print(json.dumps(results, indent=2, default=str))
    print(json.dumps({
        "shared": len(shared),
        "only_old": sorted(set(old) - set(oracle)),
        "only_new": sorted(set(oracle) - set(old)),
        "text_changed": changed,
        "text_changed_identical": [k for k in changed
                                   if results[k].get("hash_match") and results[k].get("schema_match")],
    }, indent=2))
    print("ORACLES IDENTICAL" if ok else "ORACLES DIFFER")
    sys.exit(0 if ok else 2)

results = {}
for qdir in sorted(glob.glob(f"{outdir}/*/")):
    name = os.path.basename(qdir.rstrip("/"))
    got = con.sql(f"SELECT * FROM '{qdir}/*.parquet'").df()
    row = {"rows": len(got)}
    if name in oracle:
        try:
            row.update(compare_frames(got, con.sql(oracle[name]).df()))
        except Exception as e:
            row["oracle_error"] = str(e)[:300]
    else:
        row["oracle"] = "absent (rows-only check)"
    results[name] = row

# an oracle that fails to RUN is a failure, not a rows-only pass — a
# generated-SQL bug must not report as green
ok = all(
    "oracle_error" not in r and r.get("hash_match", r["rows"] > 0)
    for r in results.values())
print(json.dumps(results, indent=2, default=str))
print("ALL GREEN" if ok else "FAILURES PRESENT")
sys.exit(0 if ok else 2)
