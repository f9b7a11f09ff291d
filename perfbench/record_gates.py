#!/usr/bin/env python3
"""Record the corpus_gates expectations, checked against the DuckDB oracle.

Runs corpus_gates once in record mode: every gate's rows are written to
parquet next to their fingerprint and the gate's SparkEntry.oracleSql text.
Each gate's rows must then equal its oracle query run in DuckDB over the
same corpus (columns sorted by name, rows sorted, values compared exactly,
as tools/check.py does). Only when every gate matches are the fingerprints
written to perfbench/expected_gates.json.

Usage (from the repository root): python3 perfbench/record_gates.py
"""
import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
DATA = HERE / "data" / "sf0.01"


def canon(df):
    cols = sorted(df.columns)
    df = df[cols]

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return str(v)
    return cols, sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False))


def main():
    out = Path(".bench_build") / "record"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    subprocess.run(["python3", str(HERE / "run.py"), "--workload", "corpus_gates", "--seed", "1",
                    "--seconds", "1", "--record", str(out)], check=True)
    oracle = json.loads((out / "oracle_sql.json").read_text())
    prints = json.loads((out / "fingerprints.json").read_text())
    con = duckdb.connect()
    for p in sorted(DATA.glob("*.parquet")):
        con.sql(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    bad = 0
    for gate in sorted(prints):
        if gate not in oracle:
            print(f"FAIL {gate}: no oracle SQL")
            bad += 1
            continue
        scols, srows = canon(pq.read_table(str(out / gate)).to_pandas())
        dcols, drows = canon(con.sql(oracle[gate]).df())
        if (scols, srows) != (dcols, drows):
            print(f"FAIL {gate}: spark {len(srows)} rows {scols} vs duckdb {len(drows)} rows {dcols}")
            bad += 1
        else:
            print(f"PASS {gate} ({len(srows)} rows) {prints[gate]}")
    if bad:
        sys.exit(f"{bad} gate(s) disagree with the oracle; expectations not written")
    (HERE / "expected_gates.json").write_text(json.dumps(prints, indent=1, sort_keys=True) + "\n")
    print(f"wrote {HERE / 'expected_gates.json'} ({len(prints)} gates)")


if __name__ == "__main__":
    main()
