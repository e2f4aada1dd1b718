#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle check.

Usage: python3 tools/local_oracle_check.py <sfdir> <verify_out_dir>

For each query in <verify_out_dir>/oracle_sql.json: run the SQL in DuckDB
with the sf parquet tables registered by name, load the Spark parquet dump,
sort columns by name, sort rows, and compare values cell-by-cell (floats
with exact equality first, then 1e-9 rel tolerance report).

graft.Verify writes the absolute path of <verify_out_dir>/_synth into the
oracle SQL. An oracle that reads any other `/_synth/` dir (the out dir was
moved, so the path now names another run's tables) FAILs, naming both paths.
"""
import sys, json, glob, math, os, re
import duckdb
import pyarrow.parquet as pq
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

SYNTH_DIR = re.compile(r"'([^']*/_synth)/")

def foreign_synth_dir(sql, outdir):
    """The first `_synth` dir `sql` reads that is not <outdir>/_synth, or None."""
    own = os.path.realpath(os.path.join(outdir, "_synth"))
    for d in SYNTH_DIR.findall(sql):
        if os.path.realpath(d) != own:
            return d
    return None

def main(sfdir, outdir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        foreign = foreign_synth_dir(sql, outdir)
        if foreign:
            print(f"FAIL {name}: oracle reads synth tables at {foreign}, "
                  f"not this run's {os.path.join(os.path.abspath(outdir), '_synth')}")
            n_fail += 1
            continue
        try:
            expected = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        got = pd.concat([pq.read_table(f).to_pandas() for f in files])
        if sorted(got.columns) != sorted(expected.columns):
            print(f"FAIL {name}: columns {sorted(got.columns)} vs {sorted(expected.columns)}")
            n_fail += 1
            continue
        g, e = canon(got), canon(expected)
        if len(g) != len(e):
            print(f"FAIL {name}: rows {len(g)} vs {len(e)}")
            n_fail += 1
            continue
        # dtype-compare loosely, value-compare strictly
        ok = True
        for c in g.columns:
            gv, ev = g[c].tolist(), e[c].tolist()
            for i, (a, b) in enumerate(zip(gv, ev)):
                if isinstance(a, float) or isinstance(b, float):
                    if a != b and not (isinstance(a, float) and isinstance(b, float)
                                       and (math.isclose(a, b, rel_tol=0, abs_tol=0))):
                        print(f"FAIL {name}: col {c} row {i}: {a!r} != {b!r}")
                        ok = False
                        break
                elif a != b:
                    print(f"FAIL {name}: col {c} row {i}: {a!r} != {b!r}")
                    ok = False
                    break
            if not ok:
                break
        if ok:
            # schema check (types)
            gt = {c: str(g[c].dtype) for c in g.columns}
            et = {c: str(e[c].dtype) for c in e.columns}
            mismatch = {c: (gt[c], et[c]) for c in gt if gt[c] != et[c]}
            if mismatch:
                print(f"WARN {name}: dtype mismatch {mismatch} (values equal)")
            print(f"PASS {name} ({len(g)} rows)")
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
