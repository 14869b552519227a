"""Local replica of the driver's correctness gate: run each queries() entry
and its oracle_sql() on the same sf dir, compare row count + sorted-column
value multiset.

Usage: python tools/check_oracle.py [--json OUT.json] [sf_dir] [name ...]

--json writes a CORRECTNESS_r{N}.json-shaped record per query
({rows_match, schema_match, hash_match, spark_rows, oracle_rows, err}) —
used for the one-time larger-SF sweep artifact (CORRECTNESS_sf03.json)."""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from api_ocr_spark.plans.session import get_spark  # noqa: E402
from api_ocr_spark.sources.tables import TPCH_TABLES  # noqa: E402


def canon(df):
    """pandas → sorted list of value-string tuples with sorted columns."""
    cols = sorted(df.columns)
    df = df[cols]

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return f"{v:.6f}"
        return str(v)

    rows = sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False))
    return cols, rows


def main():
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    report: dict[str, dict] = {}
    spark = get_spark(app_name="oracle-check", cores=8, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {"rows_match": False, "schema_match": False, "hash_match": False,
               "spark_rows": None, "oracle_rows": None, "err": None}
        report[name] = rec
        try:
            sdf = fn(spark, sf_dir).toPandas()
            rec["spark_rows"] = len(sdf)
        except Exception as e:
            failures.append(name)
            rec["err"] = f"spark error {type(e).__name__}: {str(e)[:300]}"
            print(f"FAIL {name}: {rec['err']}")
            continue
        if name not in oracles:
            rec["err"] = "rows-only (no oracle)"
            print(f"ok?  {name}: rows-only ({len(sdf)} rows)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
            rec["oracle_rows"] = len(odf)
        except Exception as e:
            failures.append(name)
            rec["err"] = f"duckdb error {str(e)[:300]}"
            print(f"FAIL {name}: {rec['err']}")
            continue
        scols, srows = canon(sdf)
        ocols, orows = canon(odf)
        rec["schema_match"] = scols == ocols
        rec["rows_match"] = len(srows) == len(orows)
        rec["hash_match"] = rec["schema_match"] and srows == orows
        if not rec["schema_match"]:
            failures.append(name)
            print(f"FAIL {name}: columns {scols} vs {ocols}")
        elif not rec["rows_match"]:
            failures.append(name)
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(orows)}")
        elif not rec["hash_match"]:
            failures.append(name)
            diff = [i for i, (a, b) in enumerate(zip(srows, orows)) if a != b][:3]
            print(f"FAIL {name}: values differ; first diffs at {diff}")
            for i in diff:
                print(f"   spark: {srows[i]}")
                print(f"   duck : {orows[i]}")
        else:
            print(f"OK   {name}: {len(srows)} rows")
    spark.stop()
    if json_out:
        import json as _json
        with open(json_out, "w") as f:
            _json.dump(report, f, indent=2)
    print("FAILURES:", failures if failures else "none")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
