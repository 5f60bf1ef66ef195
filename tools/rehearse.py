#!/usr/bin/env python
"""Pre-driver dress rehearsal: run the driver's 50-key sample window
against the DuckDB oracles with a driver-style compare (row count +
sorted-column schema + stringified-cell values, which is dtype-strict:
an int64-vs-float64 divergence fails here before it can fail the gate).

Usage:  python tools/rehearse.py [sf_dir] [--all] [--only k1,k2]
(default sf0.01).  ``--all`` sweeps EVERY registered query, not just
the 50-key window — the below-fold queries only ever run at sf0.001
in the pytest sweep, so this is the one check that exercises them on
the gate corpus.  ``--only`` takes a comma-separated key list for a
quick driver-style check of specific queries.
Prints one OK/FAIL/RAN line per query and a JSON summary; exit code 1
on any failure, 2 on bad usage (e.g. no sf_dir/region.parquet).
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> int:
    argv = sys.argv[1:]
    only: list[str] | None = None
    if "--only" in argv:
        k = argv.index("--only")
        if k + 1 >= len(argv):
            print(__doc__)
            return 2
        only = [s for s in argv[k + 1].split(",") if s]
        argv = argv[:k] + argv[k + 2:]
    args = [a for a in argv if a != "--all"]
    sweep_all = "--all" in argv
    sf = args[0] if args else "/root/testdata/sf0.01"
    if not os.path.isfile(os.path.join(sf, "region.parquet")):
        print(__doc__)
        return 2
    import duckdb

    import __spark_entry__ as entry
    from flink_dsl_spark import get_session
    from perfbench.stats import frames_match

    spark = get_session("rehearse")
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{sf}/{t}.parquet'")

    results = {}
    if only is not None:
        missing = [k for k in only if k not in qs]
        if missing:
            print(f"unknown keys: {', '.join(missing)}")
            return 1
        todo = only
    else:
        todo = list(qs) if sweep_all else list(qs)[:50]
    for name in todo:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf).toPandas()
            o = oracles.get(name)
            if o is None:
                # No oracle: "ran without error" only — NOT a value
                # check.  Printed as RAN and counted separately so the
                # summary can't be read as 187 value-verified keys.
                results[name] = {"rows": len(sdf), "oracle": None,
                                 "ok": True, "run_only": True}
            else:
                odf = con.sql(o).df()
                results[name] = {"rows": len(sdf), "oracle": len(odf),
                                 "ok": frames_match(sdf, odf),
                                 "sec": round(time.time() - t0, 2)}
        except Exception as ex:            # noqa: BLE001 — report, don't die
            results[name] = {"ok": False, "err": str(ex)[:300]}
        r = results[name]
        print(name,
              ("RAN (no oracle)" if r.get("run_only")
               else "OK" if r["ok"] else "FAIL"), flush=True)

    bad = [k for k, v in results.items() if not v["ok"]]
    run_only = sum(1 for v in results.values() if v.get("run_only"))
    print(json.dumps({"total": len(results),
                      "value_checked": len(results) - run_only,
                      "run_only": run_only, "failed": bad}))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
