#!/usr/bin/env python3
"""Compare two graft.Verify dump directories query by query.

Run from the repository root:

    python3 scripts/dumpdiff.py <dumpA> <dumpB> [--sf <sfDir>]

Each dump directory holds one `<query>/*.parquet` result per query and the
`oracle_sql.json` that Verify wrote next to them. For every query dumped on
either side the two Spark results must be row-identical: the same columns
and the same multiset of rows, floats compared exactly (a result's row
order only decides ties of its ORDER BY, so rows are compared sorted).
With `--sf`, every oracle of either side's `oracle_sql.json` also runs in
DuckDB over the tables in `<sfDir>`, A's SQL and B's SQL, and the two
results must be row-identical the same way; an oracle whose SQL reads the
same on both sides (up to the dump path Verify substitutes for `{OUT}`)
is the same oracle and is not run.

This catches a change that rewrites both a query and its oracle: a matching
pair of edits still passes `localcheck.py`, but not this comparison
against the dumps of the code before the change.

Prints one line per difference and a summary; exits 1 on any difference.
"""
import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from localcheck import compare_frames, connect, dump_file  # noqa: E402


def canonical(df):
    """`df` with its columns in name order and its rows sorted on the
    string form of every value, so equal multisets of rows compare equal
    row by row."""
    cols = sorted(df.columns)
    df = df[cols]
    keys = df.astype(str)
    order = keys.sort_values(by=cols, kind="mergesort").index
    return df.loc[order].reset_index(drop=True)


def same_rows(a, b):
    """None when the frames hold the same rows (in any order), else the
    first difference as `compare_frames` describes it."""
    if sorted(a.columns) != sorted(b.columns):
        return compare_frames(a, b)
    return compare_frames(canonical(a), canonical(b))


def load_oracles(dump):
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        return json.load(f)


def unified(sql, dump):
    """`sql` with the dump's own path (Verify substitutes it for `{OUT}`)
    put back as `{OUT}`, so the same oracle reads the same on both sides."""
    return sql.replace(os.path.abspath(dump), "{OUT}")


def queries(dump):
    return {d for d in os.listdir(dump)
            if os.path.isdir(os.path.join(dump, d))}


def diff_dumps(a, b, con):
    """Lines describing every difference between dumps `a` and `b`, the
    number of queries compared and the number of oracles run."""
    import duckdb
    reader = duckdb.connect()
    out = []
    ran = 0
    names = sorted(queries(a) | queries(b))
    for name in names:
        fa, fb = dump_file(a, name), dump_file(b, name)
        if fa is None or fb is None:
            out.append(f"DUMP {name}: only in {'B' if fa is None else 'A'}")
            continue
        d = same_rows(reader.execute(f"SELECT * FROM '{fa}'").fetchdf(),
                      reader.execute(f"SELECT * FROM '{fb}'").fetchdf())
        if d:
            out.append(f"DUMP {name}: {d}")
    if con is not None:
        oa, ob = (load_oracles(d) for d in (a, b))
        for name in sorted(set(oa) | set(ob)):
            if name not in oa or name not in ob:
                out.append(f"ORACLE {name}: only in "
                           f"{'B' if name not in oa else 'A'}")
                continue
            if unified(oa[name], a) == unified(ob[name], b):
                continue  # the same oracle: nothing to compare
            ran += 1
            try:
                d = same_rows(con.execute(oa[name]).fetchdf(),
                              con.execute(ob[name]).fetchdf())
            except Exception as e:
                d = f"error {e}"
            if d:
                out.append(f"ORACLE {name}: {d}")
    return out, len(names), ran


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("dump_a")
    ap.add_argument("dump_b")
    ap.add_argument("--sf", help="table directory the oracles run over")
    args = ap.parse_args(argv[1:])
    con = connect(args.sf) if args.sf else None
    diffs, n, ran = diff_dumps(args.dump_a, args.dump_b, con)
    for line in diffs:
        print(line)
    oracles = (f", {ran} rewritten oracles run" if con
               else " (oracles not run: no --sf)")
    print(f"{n} queries compared{oracles}, DIFFERENCES: {len(diffs)}")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
