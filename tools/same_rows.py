#!/usr/bin/env python3
"""Compare two graft.Verify outputs query by query.

Usage: python3 tools/same_rows.py <verifyOutA> <verifyOutB> [query...]

For each query (default: every query directory in either output) it
compares the column names and types, in order, and the MD5 of the rows
sorted over all columns. It prints one verdict line per query:

  SAME     names, types and sorted rows are identical
  DIFFERS  names, types, row count or row digest differ
  MISSING  one side has no parquet output for the query

and exits non-zero if any query is not SAME. This is the gate for the
queries without an oracle: run Verify on the parent and on the change
over the same scale factor, then compare the two output directories.
"""
import glob, hashlib, os, sys
import duckdb


def read(con, out, name):
    """(columns as (name, type) pairs, row count, MD5 of sorted rows),
    or None when the query wrote no parquet."""
    files = sorted(glob.glob(f"{out}/{name}/*.parquet"))
    if not files:
        return None
    scan = con.read_parquet(files)
    cols = [(c, str(t)) for c, t in zip(scan.columns, scan.types)]
    rel = con.execute("SELECT * FROM read_parquet(?) ORDER BY ALL", [files])
    md5, n = hashlib.md5(), 0
    while True:
        batch = rel.fetchmany(10000)
        if not batch:
            break
        for row in batch:
            md5.update((repr(row) + "\n").encode("utf-8"))
        n += len(batch)
    return cols, n, md5.hexdigest()


def queries(out):
    return {d for d in os.listdir(out)
            if not d.startswith(".") and os.path.isdir(os.path.join(out, d))}


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    names = sorted(sys.argv[3:] or (queries(a) | queries(b)))
    con = duckdb.connect()
    bad = 0
    for name in names:
        ra, rb = read(con, a, name), read(con, b, name)
        if ra is None or rb is None:
            side = " and ".join(p for p, r in ((a, ra), (b, rb)) if r is None)
            print(f"{name}: MISSING in {side}")
        elif ra == rb:
            print(f"{name}: SAME ({ra[1]} rows)")
            continue
        elif ra[0] != rb[0]:
            print(f"{name}: DIFFERS columns {ra[0]} vs {rb[0]}")
        else:
            print(f"{name}: DIFFERS rows {ra[1]} md5 {ra[2]}"
                  f" vs {rb[1]} md5 {rb[2]}")
        bad += 1
    print(f"== {len(names) - bad} same, {bad} not of {len(names)}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
