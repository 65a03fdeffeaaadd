"""Local replay of the external oracle compare for registered queries
(sf0.01): runs the Spark query and its DuckDB oracle side by side, sorts
columns by name and rows by value, compares.

Usage: python spikes/oracle_check.py [q1 q2 ...]   (no names → every query)
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> int:
    import duckdb

    import __spark_entry__ as entry
    from entropy_balance_weighting_spark.session import get_spark

    sf_dir = "/root/testdata/sf0.01"
    spark = get_spark()
    qs = entry.queries()
    names = sys.argv[1:] or list(qs)
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    fails = 0
    for name in names:
        sdf = qs[name](spark, sf_dir).toPandas()
        sdf = sdf.reindex(sorted(sdf.columns), axis=1)
        if name not in oracles:
            print(f"{name}: rows-only ({len(sdf)} rows)")
            continue
        odf = con.execute(oracles[name]).fetchdf()
        odf = odf.reindex(sorted(odf.columns), axis=1)
        ok_rows = len(sdf) == len(odf)
        ok_schema = list(sdf.columns) == list(odf.columns)

        def canon(df):
            return sorted(
                tuple(repr(v) for v in row) for row in df.itertuples(index=False)
            )

        ok_vals = ok_rows and ok_schema and canon(sdf) == canon(odf)
        status = "MATCH" if (ok_rows and ok_schema and ok_vals) else "FAIL"
        if status == "FAIL":
            fails += 1
            print(
                f"{name}: {status} rows {len(sdf)}/{len(odf)} "
                f"schema {ok_schema} cols spark={list(sdf.columns)} "
                f"oracle={list(odf.columns)}"
            )
            if ok_rows and ok_schema:
                a, b = canon(sdf), canon(odf)
                diffs = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
                for i in diffs[:3]:
                    print(f"  row {i}: spark={a[i]}\n          oracle={b[i]}")
        else:
            print(f"{name}: MATCH ({len(sdf)} rows)")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
