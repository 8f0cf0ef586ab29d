"""Driver-style correctness sweep: run registry queries against their
DuckDB oracles at sf0.01 and compare rows/schema/values the way the
round driver does (columns sorted by name, rows sorted, value
comparison). Usage:

    python jobs/correctness_check.py [first_n | name1,name2,...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = math.floor(v * 1e6) / 1e6 if math.isfinite(v) else v
            if isinstance(v, list):
                v = tuple(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def main() -> None:
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    sel = sys.argv[1] if len(sys.argv) > 1 else "50"
    qs, osql = E.queries(), E.oracle_sql()
    names = (list(qs)[:int(sel)] if sel.isdigit()
             else [s.strip() for s in sel.split(",")])
    spark = (SparkSession.builder.master("local[16]")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.ui.enabled", "false").getOrCreate())
    sf_dir = "/root/testdata/sf0.01"
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf_dir}/{t}.parquet'")
    n_ok = 0
    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            if name in osql:
                cur = con.execute(osql[name])
                ocols = [d[0] for d in cur.description]
                orows = cur.fetchall()
                ok = (sorted(scols) == sorted(ocols)
                      and len(srows) == len(orows)
                      and _canon(srows, scols) == _canon(orows, ocols))
            else:
                ok = True  # rows-only check
            status = "OK " if ok else "FAIL"
            n_ok += ok
            if not ok:
                failures.append(name)
        except Exception as e:  # noqa: BLE001
            status, ok = "ERR ", False
            failures.append(f"{name}: {type(e).__name__} {e}"[:200])
        print(f"{status} {name:36s} {time.time() - t0:6.1f}s",
              flush=True)
    print(f"\n{n_ok}/{len(names)} green")
    if failures:
        print("failures:", failures)
        sys.exit(1)
    spark.stop()


if __name__ == "__main__":
    main()
