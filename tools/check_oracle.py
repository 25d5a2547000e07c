#!/usr/bin/env python3
"""Builder-local oracle check: compare Verify.scala's parquet dumps
against SparkEntry.oracleSql run in DuckDB over the same sf tables.
Approximates the driver's compare (sort columns by name, compare the
full sorted value matrix with float tolerance-free equality). A dump
directory with no oracle entry fails too. The last line is `OK n/m`.

Usage: check_oracle.py OUTDIR SFDIR [name_regex]
"""
import json
import math
import re
import sys
from pathlib import Path

import duckdb


def cell(v):
    # repr round-trips doubles exactly - the bit-identical-float oracles
    # need no quantization here
    if isinstance(v, float):
        v = repr(v) if not math.isnan(v) else "nan"
    return repr(v)


def canon(rows, cols):
    """Rows as tuples of per-column reprs, columns in name order, sorted.
    A tuple keeps the column boundaries: (1, 23) and (12, 3) differ."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def orphans(outdir, oracle, pat=None):
    """Dump directories that have no oracle_sql.json entry."""
    return sorted(d.name for d in outdir.iterdir()
                  if d.is_dir() and d.name not in oracle
                  and (pat is None or pat.search(d.name)))


def main(argv):
    outdir, sfdir = Path(argv[0]), Path(argv[1])
    pat = re.compile(argv[2]) if len(argv) > 2 else None

    oracle = json.loads((outdir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = sfdir / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    names = [n for n in sorted(oracle) if pat is None or pat.search(n)]
    extra = orphans(outdir, oracle, pat)
    fail = 0
    for name in extra:
        print(f"{name}: NO ORACLE for this spark dump")
        fail += 1
    for name in names:
        qdir = outdir / name
        if not qdir.exists():
            print(f"{name}: MISSING spark dump")
            fail += 1
            continue
        srel = con.execute(
            f"SELECT * FROM read_parquet('{qdir}/*.parquet')")
        scols = [d[0] for d in srel.description]
        srows = srel.fetchall()
        try:
            orel = con.execute(oracle[name])
            ocols = [d[0] for d in orel.description]
            orows = orel.fetchall()
        except Exception as e:
            print(f"{name}: ORACLE ERROR {e}")
            fail += 1
            continue
        if sorted(scols) != sorted(ocols):
            print(f"{name}: SCHEMA mismatch spark={sorted(scols)} oracle={sorted(ocols)}")
            fail += 1
            continue
        sc, oc = canon(srows, scols), canon(orows, ocols)
        if len(sc) != len(oc):
            print(f"{name}: ROWS mismatch spark={len(sc)} oracle={len(oc)}")
            fail += 1
        elif sc != oc:
            bad = next(i for i, (a, b) in enumerate(zip(sc, oc)) if a != b)
            print(f"{name}: VALUE mismatch at sorted row {bad}:\n  spark={sc[bad]}\n  oracle={oc[bad]}")
            fail += 1
        else:
            print(f"{name}: OK ({len(sc)} rows)")
    total = len(names) + len(extra)
    print(f"OK {total - fail}/{total}")
    return 1 if fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
