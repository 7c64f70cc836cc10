#!/usr/bin/env python3
"""Record the expected per-op fingerprints of the sf0.1 workloads.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 1 --record OUT/curation
    python3 perfbench/run.py --workload incremental --seed 1 --seconds 1 --record OUT/incremental
    python3 perfbench/record_fingerprints.py OUT/curation OUT/incremental

Each --record run materialises every declared query of its workload once and
dumps the rows it fingerprinted. This script replays each query's oracle SQL
(SparkEntry.oracleSql, the SQL tools/selfcheck.py replays) in DuckDB over the
same parquet tables, compares row by row the way tools/selfcheck.py does, and
writes perfbench/fingerprints.json only if every query matches.
"""
import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

HERE = Path(__file__).resolve().parent
DATA = HERE / "data" / "sf0.1"
TABLES = ["documents", "embeddings", "events", "lineitem", "orders"]


def compare(got, want):
    got = got[sorted(got.columns)]
    want = want[sorted(want.columns)]
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if got.shape != want.shape:
        return f"shape {got.shape} != {want.shape}"
    for c in got.columns:
        a = got[c].astype(str).fillna("<NA>").reset_index(drop=True)
        b = want[c].astype(str).fillna("<NA>").reset_index(drop=True)
        if not (a == b).all():
            i = int((a != b).idxmax())
            return f"column {c} differs at row {i}: {a[i]!r} vs {b[i]!r}"
    return None


def main(dirs):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA / (t + '.parquet')}'")
    out, fails = {}, []
    for d in map(Path, dirs):
        recorded = json.loads((d / "recorded.json").read_text())
        for name, rec in sorted(recorded.items()):
            if rec["oracle_sql"] is None:
                fails.append(name)
                print(f"FAIL {name}: no oracle SQL")
                continue
            got = pd.read_parquet(d / name)
            want = con.execute(rec["oracle_sql"]).df()
            problem = compare(got, want)
            if problem:
                fails.append(name)
                print(f"FAIL {name}: {problem}")
            else:
                print(f"ok   {name} ({rec['rows']} rows)")
                out[name] = {"rows": rec["rows"], "sha256": rec["sha256"]}
    if fails:
        sys.exit(f"{len(fails)} queries do not match the oracle; fingerprints not written")
    (HERE / "fingerprints.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(f"{len(out)} fingerprints written to {HERE / 'fingerprints.json'}")


if __name__ == "__main__":
    main(sys.argv[1:])
