#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: compare graft.Verify
parquet dumps against the DuckDB oracle SQL, column-name-sorted,
row-sorted, exact-match (with a tiny float tolerance fallback report).
Every query graft.Verify lists in `<outDir>/_failed` (it threw) counts
as a fail."""
import json, math, sys
from pathlib import Path

import duckdb

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v

def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = Path(sys.argv[2] if len(sys.argv) > 2 else "/root/repo/target/verify_out")
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.loads((out_dir / "oracle_sql.json").read_text())
    threw = (out_dir / "_failed").read_text().split()
    n_pass = 0
    failed = []
    for name in threw:
        print(f"  {name:24s} FAIL threw in graft.Verify")
        failed.append(name)
    for name in sorted(p.name for p in out_dir.iterdir() if p.is_dir() and p.name not in threw):
        got_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        got_cols = sorted(got_rel.columns)
        got = con.execute(
            f"SELECT {', '.join(got_cols)} FROM got_rel ORDER BY ALL"
        ).fetchall()
        if name not in oracles:
            status = f"NO-ORACLE rows={len(got)}"
            print(f"  {name:24s} {status}")
            continue
        exp_rel = con.sql(oracles[name])
        exp_cols = sorted(exp_rel.columns)
        if exp_cols != got_cols:
            print(f"  {name:24s} FAIL schema: got={got_cols} exp={exp_cols}")
            failed.append(name)
            continue
        exp = con.execute(
            f"SELECT {', '.join(exp_cols)} FROM exp_rel ORDER BY ALL"
        ).fetchall()
        if len(got) != len(exp):
            print(f"  {name:24s} FAIL rows: got={len(got)} exp={len(exp)}")
            failed.append(name)
            continue
        mism = 0
        first = None
        for g, e in zip(got, exp):
            if tuple(map(norm, g)) != tuple(map(norm, e)):
                mism += 1
                if first is None:
                    first = (g, e)
        if mism:
            print(f"  {name:24s} FAIL values: {mism}/{len(got)} rows differ; first {first}")
            failed.append(name)
        else:
            print(f"  {name:24s} OK rows={len(got)}")
            n_pass += 1
    # the failing rows ride the summary line, so one line names every miss
    print(f"== {n_pass} pass, {len(failed)} fail" +
          (f": {', '.join(failed)}" if failed else ""))
    sys.exit(1 if failed else 0)

if __name__ == "__main__":
    main()
