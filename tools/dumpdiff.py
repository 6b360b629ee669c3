#!/usr/bin/env python3
"""Compare two graft.Verify output directories key by key.

    python3 tools/dumpdiff.py OLD_OUT NEW_OUT [key1,key2,...]

Each key is one parquet dump directory (`OUT/<key>/part-*.parquet`).
Two dumps are the same when their column names and types match and the
multisets of rows are equal: DuckDB `EXCEPT ALL` runs in both
directions, so duplicate rows count and row order does not. NULLs
compare equal to NULLs and NaN to NaN (DuckDB's set-operation
semantics); every other value compares exactly.

Prints one line per key and a summary, and exits 1 if any key differs,
is missing from one side, or cannot be compared.
"""
import os
import sys

import duckdb


def keys(out):
    """The dump directories under a Verify output dir."""
    return {n for n in os.listdir(out) if os.path.isdir(os.path.join(out, n))}


def relation(con, out, key):
    return con.sql(f"SELECT * FROM read_parquet('{os.path.join(out, key)}/**/*.parquet')")


def compare(con, a_out, b_out, key):
    a, b = relation(con, a_out, key), relation(con, b_out, key)
    sa = sorted(zip(a.columns, map(str, a.types)))
    sb = sorted(zip(b.columns, map(str, b.types)))
    if sa != sb:
        return f"SCHEMA a={sa} b={sb}"
    cols = ", ".join(f'"{c}"' for c, _ in sa)
    con.register("a", a)
    con.register("b", b)
    only_a = con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM a EXCEPT ALL SELECT {cols} FROM b)").fetchone()[0]
    only_b = con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM b EXCEPT ALL SELECT {cols} FROM a)").fetchone()[0]
    rows = con.sql("SELECT count(*) FROM a").fetchone()[0]
    con.unregister("a")
    con.unregister("b")
    if only_a or only_b:
        return f"rows_a={rows} only_a={only_a} only_b={only_b}"
    return None


def main(argv):
    if len(argv) < 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a_out, b_out = argv[1], argv[2]
    only = set(argv[3].split(",")) if len(argv) > 3 else None
    ka, kb = keys(a_out), keys(b_out)
    names = sorted((ka | kb) if only is None else only)
    con = duckdb.connect()
    bad = 0
    for k in names:
        if k not in ka or k not in kb:
            verdict = "MISSING in " + ("a" if k not in ka else "b")
        else:
            try:
                verdict = compare(con, a_out, b_out, k)
            except duckdb.Error as e:
                verdict = f"ERROR {type(e).__name__}: {str(e).splitlines()[0][:160]}"
        if verdict:
            bad += 1
            print(f"DIFF {k}: {verdict}")
        else:
            print(f"SAME {k}")
    print(f"\n{len(names) - bad}/{len(names)} keys identical")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
