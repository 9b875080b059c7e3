"""Simulate the correctness driver (the primary /verify surface).

A VANILLA Spark session with hostile config (non-UTC timezone, default
ANSI) — deliberately NOT datafusion_dist_spark.session.build_session,
because the real driver's session is out of our control; the engine
must pin whatever confs it needs at table-load time. Runs entry() and
every queries() entry at sf0.01 against oracle_sql() via DuckDB.

    python tools_driver_sim.py

Kept in-repo so future rounds don't have to recreate it.
"""
import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import duckdb
from pyspark.sql import SparkSession


def main() -> int:
    # Vanilla session the way a driver might build it — NOT build_session.
    spark = (SparkSession.builder.master("local[8]")
             .appName("driver-sim")
             .config("spark.sql.session.timeZone", "America/Los_Angeles")  # hostile TZ
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    # 1. entry() smoke
    df = E.entry(spark)
    rows = df.collect()
    print(f"entry(): {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")

    # 2. queries vs oracles at sf0.01. --sf-dir reruns the full sweep at
    # another scale: scale-dependent constants (caps, bucket ladders) are
    # the recurring bug class, and only a second SF catches one that
    # silently does nothing.
    sf_dir = "/root/testdata/sf0.01"
    if "--sf-dir" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf-dir") + 1]
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    from tests.oracle_compare import assert_frames_match

    qs, oracles = E.queries(), E.oracle_sql()
    if "--only" in sys.argv:
        # Comma-separated substring filter for targeted re-sweeps, e.g.
        #   python tools_driver_sim.py --only embedding_health,minhash
        pats = sys.argv[sys.argv.index("--only") + 1].split(",")
        qs = {n: f for n, f in qs.items() if any(p in n for p in pats)}
    fail = 0
    results = {}
    t0 = time.time()
    for name, fn in qs.items():
        try:
            sdf = fn(spark, sf_dir).toPandas()
            if name in oracles:
                odf = con.execute(oracles[name]).fetchdf()
                assert_frames_match(sdf, odf, name)
                print(f"  OK   {name} ({len(sdf)} rows)")
                results[name] = {"status": "ok", "rows": len(sdf)}
            else:
                print(f"  ROWS {name} ({len(sdf)} rows)")
                results[name] = {"status": "rows_only", "rows": len(sdf)}
        except Exception as e:
            fail += 1
            print(f"  FAIL {name}: {str(e)[:300]}")
            results[name] = {"status": "fail", "err": str(e)[:300]}
    print(f"total {len(qs)} queries, {fail} failures, {time.time()-t0:.1f}s")
    # Optional committable artifact: full-sweep evidence in one JSON
    # (ADVICE r3: the oracle-green claim needs a tracked full-coverage
    # artifact, not just the driver's 50-entry sample).
    if "--json" in sys.argv:
        import json
        path = sys.argv[sys.argv.index("--json") + 1]
        with open(path, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "total": len(qs),
                    "failures": fail,
                    "wall_s": round(time.time() - t0, 1),
                    "results": results,
                },
                fh,
                indent=1,
            )
        print(f"wrote {path}")
    return 1 if fail else 0


if __name__ == "__main__":
    sys.exit(main())
