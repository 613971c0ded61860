"""Local mimic of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare
row count, schema (column names), and order-insensitive values.

Usage: python tools/check_contract.py [--json-out FILE] [sf_dir] [only_query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df):
    """pandas DataFrame -> sorted-by-name columns, canonical rows."""
    import numpy as np
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        elif df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) else v
            )
    rows = sorted(repr(t) for t in df.itertuples(index=False, name=None))
    return rows


def main() -> int:
    # --json-out FILE: additionally emit a machine-readable record in
    # the driver's CORRECTNESS schema ({query: {rows_match,
    # schema_match, hash_match, spark_rows, oracle_rows, err}}) so a
    # full 122-query run is diffable against the driver's sampled
    # artifact (rows-only queries report hash_match true when nonempty,
    # matching the driver's rows-only convention).
    argv = list(sys.argv[1:])
    json_out = None
    if "--json-out" in argv:
        i = argv.index("--json-out")
        if i + 1 == len(argv):
            print("--json-out needs a FILE\n" + __doc__.strip().splitlines()[-1],
                  file=sys.stderr)
            return 2
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    # bind the flagship oracle's literal VALUES generation to the SF
    # under test (it defaults to sf0.01, the driver's gate SF); the
    # oracle SQL itself carries a loud row-count/char-sum guard in
    # case the binding and the attached tables ever diverge
    os.environ.setdefault("DS2_ORACLE_SF_DIR", sf_dir)

    import __spark_entry__ as entrymod
    from ds2_spark.session import get_spark

    spark = get_spark(app_name="contract_check", cpus=8)
    duck = duckdb.connect()
    for t in TABLES:
        duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    record: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {
            "rows_match": False, "schema_match": False,
            "hash_match": False, "spark_rows": None,
            "oracle_rows": None, "err": None,
        }
        record[name] = rec
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            rec["err"] = f"spark error: {e}"
            continue
        el = time.time() - t0
        rec["spark_rows"] = len(sdf)
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, {el:.1f}s)")
            if len(sdf) == 0:
                failures.append((name, "0 rows in rows-only query"))
                rec["err"] = "0 rows in rows-only query"
            else:
                rec["rows_match"] = rec["schema_match"] = True
                rec["hash_match"] = True
            continue
        try:
            ddf = duck.sql(oracles[name]).df()
        except Exception as e:
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {e}")
            rec["err"] = f"duckdb error: {e}"
            continue
        rec["oracle_rows"] = len(ddf)
        rec["rows_match"] = len(sdf) == len(ddf)
        rec["schema_match"] = sorted(sdf.columns) == sorted(ddf.columns)
        problems = []
        if not rec["rows_match"]:
            problems.append(f"rowcount {len(sdf)} != {len(ddf)}")
        if not rec["schema_match"]:
            problems.append(f"schema {sorted(sdf.columns)} != {sorted(ddf.columns)}")
        if not problems:
            rs, rd = normalize(sdf), normalize(ddf)
            rec["hash_match"] = rs == rd
            if not rec["hash_match"]:
                diff = [
                    (a, b) for a, b in zip(rs, rd) if a != b
                ][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {problems}")
        else:
            print(f"ok   {name}: {len(sdf)} rows match ({el:.1f}s)")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(record, f, indent=2)
        print(f"wrote {json_out}")
    print(f"\n{len(qs) - len(failures)}/{len(qs)} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
