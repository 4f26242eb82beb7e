#!/usr/bin/env python3
"""Local replica of the driver's t2 oracle compare.

Usage: python3 tools/check.py [sfDir] [verifyOutDir] [only_query...]

Reads `oracle_sql.json` from the Verify output dir, runs each SQL in
DuckDB over views of the sfDir parquet tables, reads the corresponding
Spark parquet output, sorts columns by name on both sides, and compares
schema-ish + row count + exact values in row order. Strictly exact —
if this passes, the driver's hash compare passes.

DuckDB spills under `<verifyOutDir>/.duckdb_tmp`, capped at TEMP_CAP. An
oracle that runs out of disk or memory is reported as RESOURCE, a class
of its own; it still counts as a failure.

Each verdict line carries the oracle's DuckDB seconds, and a list of the
SLOWEST oracles precedes the summary line.
"""
import sys, glob, json, os, time
import duckdb

TEMP_CAP = "4GB"
SLOWEST = 10
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def is_resource(e):
    """Out of disk or memory (the temp cap included), not a wrong answer."""
    msg = str(e)
    return (isinstance(e, duckdb.OutOfMemoryException)
            or "No space left on device" in msg
            or "max_temp_directory_size" in msg)

def main():
    sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    only = set(sys.argv[3:])
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{out}/.duckdb_tmp'")
    con.execute(f"SET max_temp_directory_size = '{TEMP_CAP}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    fails, okc, resource = [], 0, 0
    secs = {}  # DuckDB seconds per oracle, failed runs included
    for name in sorted(oracle):
        if only and name not in only:
            continue
        sql = oracle[name]
        files = sorted(glob.glob(f"{out}/{name}/*.parquet"))
        if not files:
            print(f"{name}: MISSING spark output"); fails.append(name); continue
        t0 = time.perf_counter()
        try:
            exp = con.execute(sql).fetch_arrow_table()
            secs[name] = time.perf_counter() - t0
            # all part files, in sorted (= Spark output) order — a
            # multi-part output would otherwise spuriously fail rows
            got = con.execute("SELECT * FROM read_parquet(?)", [files]).fetch_arrow_table()
        except Exception as e:
            secs.setdefault(name, time.perf_counter() - t0)
            kind = "RESOURCE" if is_resource(e) else "ERROR"
            print(f"{name}: {kind} [{secs[name]:.2f} s] {e}"); fails.append(name)
            resource += kind == "RESOURCE"
            continue
        exps = exp.select(sorted(exp.column_names))
        gots = got.select(sorted(got.column_names))
        if exps.column_names != gots.column_names:
            print(f"{name}: COLUMNS oracle={exps.column_names} spark={gots.column_names}")
            fails.append(name); continue
        if [str(f.type) for f in exps.schema] != [str(f.type) for f in gots.schema]:
            print(f"{name}: TYPE-WARN oracle={exps.schema} spark={gots.schema}")
        if exps.num_rows != gots.num_rows:
            print(f"{name}: ROWS oracle={exps.num_rows} spark={gots.num_rows}")
            fails.append(name); continue
        ep, gp = exps.to_pylist(), gots.to_pylist()
        if ep != gp:
            shown = 0
            for i, (a, b) in enumerate(zip(ep, gp)):
                if a != b:
                    print(f"{name}: DIFF row {i}:\n  oracle={a}\n  spark ={b}")
                    shown += 1
                    if shown >= 2:
                        break
            fails.append(name); continue
        okc += 1
        print(f"{name}: OK ({exps.num_rows} rows) [{secs[name]:.2f} s]")
    slow = sorted(secs.items(), key=lambda kv: -kv[1])[:SLOWEST]
    print(f"slowest {len(slow)} oracles (DuckDB s): "
          + ", ".join(f"{n} {s:.2f}" for n, s in slow))
    print(f"== {okc} ok, {len(fails)} fail" + (": " + ",".join(fails) if fails else "")
          + (f" ({resource} of them RESOURCE)" if resource else ""))
    # optional JSON artifact (round-7 verdict item 8: routine cross-SF
    # certification) — CHECK_JSON_OUT=<path> writes a CORRECTNESS-style
    # summary the round record can keep
    out_json = os.environ.get("CHECK_JSON_OUT")
    if out_json:
        json.dump({"sf_dir": sfdir, "n_oracled": okc + len(fails),
                   "n_pass": okc, "n_fail": len(fails), "failed": sorted(fails)},
                  open(out_json, "w"), indent=1)
    sys.exit(1 if fails else 0)

if __name__ == "__main__":
    main()
