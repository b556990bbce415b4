"""Local stand-in for the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir,
compare row count + order-insensitive value hash (columns sorted by name,
rows sorted, floats rounded)."""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(df_pandas):
    cols = sorted(df_pandas.columns)
    d = df_pandas[cols].copy()
    rows = []
    for tup in d.itertuples(index=False):
        parts = []
        for v in tup:
            if isinstance(v, float):
                parts.append(f"{v:.6g}")
            else:
                parts.append(str(v))
        rows.append("\x1f".join(parts))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest(), len(rows), cols


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None

    from legal_knowledge_graph_spark.session import build_session
    import __spark_entry__ as entrymod

    spark = build_session(shuffle_partitions=8)
    con = duckdb.connect()
    for t in entrymod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
            # golden-parquet oracles are written for the driver's sf0.01
            # gate; point them at this sf dir's goldens when testing others
            osql = oracles[name].replace(
                "/golden/sf0.01/",
                f"/golden/{os.path.basename(sf_dir.rstrip('/'))}/")
            odf = con.execute(osql).df()
            sh, sn, scols = canon(sdf)
            oh, on, ocols = canon(odf)
            ok = (sh == oh) and (sn == on) and (scols == ocols)
            status = "OK " if ok else "MISMATCH"
            print(f"{name:28s} {status} rows={sn}/{on} {time.time()-t0:.1f}s", flush=True)
            if not ok:
                failures.append(name)
                if scols != ocols:
                    print(f"   cols spark={scols}\n   cols duck ={ocols}")
                else:
                    merged_s = set(map(tuple, sdf[sorted(sdf.columns)].astype(str).values.tolist()))
                    merged_o = set(map(tuple, odf[sorted(odf.columns)].astype(str).values.tolist()))
                    print("   only-spark:", list(merged_s - merged_o)[:3])
                    print("   only-duck :", list(merged_o - merged_s)[:3])
        except Exception as e:
            failures.append(name)
            print(f"{name:28s} ERROR {type(e).__name__}: {str(e)[:300]}", flush=True)
    print("FAILURES:", failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
