"""Driver-query oracle sweep: run each `__spark_entry__` query on a
scale-factor dir and compare it value-exactly with its DuckDB oracle.

    python tools/check_oracles.py [QUERY ...]

Runs on local[$SPARK_GRAFT_CPUS] (default: all CPUs).  An oracle whose
grid files are absent reports `grid absent: <file>` and counts apart
from matches and mismatches; a query or oracle that raises counts as a
mismatch.  The last line is the summary; exit status 1 when anything
mismatched.
"""
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as E  # noqa: E402

SF = "/root/testdata/sf0.01"
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
GRID_ABSENT = "grid absent: "


def compare(sdf, odf) -> tuple[bool, str]:
    cols_s, cols_o = sorted(sdf.columns), sorted(odf.columns)
    if cols_s != cols_o:
        return False, f"schema {cols_s} vs {cols_o}"
    s = sdf[cols_s].sort_values(cols_s).reset_index(drop=True)
    o = odf[cols_o].sort_values(cols_o).reset_index(drop=True)
    if len(s) != len(o):
        return False, f"rows {len(s)}/{len(o)}"
    bad = []
    for c in cols_s:
        a, b = s[c].to_numpy(), o[c].to_numpy()
        same = np.array_equal(a, b) or (
            np.issubdtype(s[c].dtype, np.floating)
            and np.allclose(a, b, rtol=0, atol=0, equal_nan=True))
        if not same:
            bad.append(f"{c}: {a[:5]} vs {b[:5]}")
    return not bad, f"rows {len(s)}" + "".join(f"\n   mismatch {m}"
                                               for m in bad)


def main(names) -> int:
    spark = (SparkSession.builder.master(f"local[{CPUS}]")
             .config("spark.sql.shuffle.partitions", str(CPUS))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from "
                    f"parquet_scan('{SF}/{t}.parquet')")
    qs, oracles = E.queries(), E.oracle_sql()
    counts = {"matched": 0, "grid-absent": 0, "mismatched": 0}
    for name in names or list(qs):
        t0 = time.time()
        if name not in oracles:
            counts["mismatched"] += 1
            print(f"{name}: MISMATCH no oracle")
            continue
        try:
            odf = con.execute(oracles[name]).df()
            ok, detail = compare(qs[name](spark, SF).toPandas(), odf)
        except Exception as e:
            msg = str(e)
            if GRID_ABSENT in msg:
                counts["grid-absent"] += 1
                print(f"{name}: {msg[msg.index(GRID_ABSENT):]}")
                continue
            ok, detail = False, f"error {type(e).__name__}: {msg[:300]}"
        counts["matched" if ok else "mismatched"] += 1
        print(f"{name}: {'match' if ok else 'MISMATCH'} {detail} "
              f"({time.time() - t0:.1f}s)")
    print("summary: " + ", ".join(f"{v} {k}" for k, v in counts.items()))
    spark.stop()
    return 1 if counts["mismatched"] else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
