#!/usr/bin/env python3
"""Local pre-validation of SparkEntry oracles: run Verify's parquet dumps
against the same oracle SQL in DuckDB and diff values exactly.

Usage: python3 scripts/localcheck.py <sfDir> <verifyOutDir>
"""
import glob
import json
import math
import os
import sys

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(sfdir):
    """A DuckDB connection with one view per table found under `sfdir`."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        # probe dirs (target/sf1, target/zipf*) ship only documents/embeddings;
        # a missing table only matters if an oracle actually references it
        path = f"{sfdir}/{t}.parquet"
        if os.path.isdir(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}/*.parquet'")
        elif os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        else:
            print(f"WARN: table {t} missing at {sfdir} - skipped (only matters "
                  "if an oracle references it)")
    return con


def dump_file(outdir, name):
    """The parquet file Verify wrote for query `name`, or None."""
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    return files[0] if files else None


def compare_frames(got, want):
    """Exact value comparison of two result frames, row by row in order.

    Columns are matched by name. Floats must be equal (NaN equals NaN);
    everything else compares by its string form. Returns None when the
    frames agree, else a one-line description of the first difference."""
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gc} vs {wc}"
    got, want = got[gc], want[wc]
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    bad = []
    for c in gc:
        a, b = got[c].tolist(), want[c].tolist()
        for i, (x, y) in enumerate(zip(a, b)):
            if x is None and y is None:
                continue
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                if x != y:  # exact — driver hash-compares
                    bad.append((c, i, x, y))
                    break
            elif str(x) != str(y):
                bad.append((c, i, x, y))
                break
    return f"first diffs {bad[:3]}" if bad else None


def main(argv):
    sfdir, outdir = argv[1], argv[2]
    con = connect(sfdir)
    with open(f"{outdir}/oracle_sql.json") as f:
        oracle = json.load(f)
    fails = 0
    for name, sql in sorted(oracle.items()):
        f = dump_file(outdir, name)
        if f is None:
            print(f"FAIL {name}: no spark result parquet")
            fails += 1
            continue
        try:
            got = con.execute(f"SELECT * FROM '{f}'").fetchdf()
            want = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            fails += 1
            continue
        diff = compare_frames(got, want)
        if diff:
            print(f"FAIL {name}: {diff}")
            fails += 1
        else:
            print(f"OK   {name}: {len(got)} rows")
    print("FAILURES:", fails)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
