#!/usr/bin/env python3
"""Local dev-loop correctness check (mimics the driver's t2 gate).

Usage:
  python3 tools/check.py [outDir=/tmp/graft_verify] [sfDir=/root/testdata/sf0.01]

Assumes `sbt "runMain graft.Verify <sfDir> <outDir>"` already ran (or run
with --run to invoke it). For each query: loads the Spark parquet result,
runs the oracle SQL in DuckDB over the same parquet tables, sorts columns
by name and rows by all columns, and diffs values exactly.

Dev tooling only — NOT part of the shipped library (driver-side python).
"""
import json, math, subprocess, sys
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def canon(df):
    """pandas df -> (schema, sorted rows of stringified cells), cols sorted by name."""
    cols = sorted(df.columns)
    df = df[cols]
    rows = [tuple(norm_cell(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    return cols, rows


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    out_dir = Path(args[0]) if len(args) > 0 else Path("/tmp/graft_verify")
    sf_dir = Path(args[1]) if len(args) > 1 else Path("/root/testdata/sf0.01")

    if "--run" in sys.argv:
        subprocess.run(
            ["sbt", f'runMain graft.Verify {sf_dir} {out_dir}'],
            cwd=Path(__file__).resolve().parent.parent, check=True)

    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        p = sf_dir / f"{t}.parquet"
        if p.exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    n_pass = n_fail = 0
    for name in sorted(oracle):
        spark_path = out_dir / name
        if not spark_path.exists():
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            sdf = pq.read_table(str(spark_path)).to_pandas()
            ddf = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        scols, srows = canon(sdf)
        dcols, drows = canon(ddf)
        if scols != dcols:
            print(f"FAIL {name}: schema mismatch spark={scols} duck={dcols}")
            n_fail += 1
        elif srows != drows:
            n_fail += 1
            print(f"FAIL {name}: rows spark={len(srows)} duck={len(drows)}")
            for i, (a, b) in enumerate(zip(srows, drows)):
                if a != b:
                    print(f"  first diff at sorted row {i}:\n    spark={a}\n    duck ={b}")
                    break
            else:
                if len(srows) != len(drows):
                    longer, which = (srows, "spark") if len(srows) > len(drows) else (drows, "duck")
                    print(f"  extra row in {which}: {longer[min(len(srows), len(drows))]}")
        else:
            n_pass += 1
            print(f"PASS {name} ({len(srows)} rows)")

    # queries with no oracle: rows-only check
    for name_dir in sorted(out_dir.iterdir()):
        if name_dir.is_dir() and name_dir.name not in oracle:
            try:
                n = pq.read_table(str(name_dir)).num_rows
                print(f"INFO {name_dir.name}: no oracle, {n} rows")
            except Exception as e:
                print(f"WARN {name_dir.name}: unreadable: {e}")

    print(f"\n{n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
