"""Local stand-in for the driver's correctness gate.

Runs each __spark_entry__.queries() entry at sf=0.01 and compares against
oracle_sql() via DuckDB: row count, schema (sorted column names), and an
order-insensitive value hash. Usage:

    python tools/check_contract.py [--json OUT.json] [query ...]

Env ``CHECK_SF_DIR`` points at a different scale (e.g. /root/testdata/sf0.1
for the at-scale spot-checks); ``--json`` additionally writes the per-query
results in the driver's CORRECTNESS_r{N}.json format.
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, "/root/repo")

import os as _os
SF_DIR = _os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    d = df[cols].copy()
    for c in cols:
        col = d[c]
        if col.dtype == object:
            d[c] = col.astype(str)
        elif str(col.dtype).startswith("float"):
            d[c] = col.round(6).map(lambda v: f"{v:.6f}" if pd.notna(v) else "NaN")
        else:
            d[c] = col.astype(str)
    rows = sorted("\x1f".join(r) for r in d.itertuples(index=False, name=None))
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()


def main(argv: list[str]) -> int:
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            print("usage: check_contract.py [--json OUT.json] [query ...]")
            return 2
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    only = argv
    import __spark_entry__ as entry_mod
    from name_matching_spark.session import get_spark

    spark = get_spark(master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = only or list(queries)
    failures = []
    results: dict[str, dict] = {}

    def record(name, sdf=None, odf=None, err=None, hashes=None):
        # rows-only queries (no oracle) record null match flags — false
        # would be indistinguishable from a failed parity check. ``hashes``
        # carries the (spark, oracle) value hashes already computed by the
        # caller so the dominant cost (sort + sha256 of every row) is paid
        # once per side, not twice.
        if sdf is None or odf is None:
            flags = {"rows_match": None, "schema_match": None, "hash_match": None}
        else:
            hs, ho = hashes if hashes else (value_hash(sdf), value_hash(odf))
            flags = {
                "rows_match": len(sdf) == len(odf),
                "schema_match": sorted(sdf.columns) == sorted(odf.columns),
                "hash_match": sorted(sdf.columns) == sorted(odf.columns)
                and hs == ho,
            }
        results[name] = {
            **flags,
            "spark_rows": None if sdf is None else len(sdf),
            "oracle_rows": None if odf is None else len(odf),
            "err": err,
        }

    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            record(name, err=f"spark: {e}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only check, {len(sdf)} rows ({time.time()-t0:.1f}s)")
            record(name, sdf=sdf, err="rows-only")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failures.append(name)
            record(name, sdf=sdf, err=f"oracle: {e}")
            continue
        hashes = (
            (value_hash(sdf), value_hash(odf))
            if sorted(sdf.columns) == sorted(odf.columns)
            else ("", "")
        )
        record(name, sdf=sdf, odf=odf, hashes=hashes)
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        elif hashes[0] != hashes[1]:
            problems.append("value hash mismatch")
            # diff aid
            cols = sorted(sdf.columns)
            key = [c for c in cols]
            a = set(map(tuple, sdf[cols].astype(str).itertuples(index=False, name=None)))
            b = set(map(tuple, odf[cols].astype(str).itertuples(index=False, name=None)))
            extra = list(a - b)[:3]
            missing = list(b - a)[:3]
            if extra:
                problems.append(f"spark-only rows: {extra}")
            if missing:
                problems.append(f"oracle-only rows: {missing}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"PASS {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
    spark.stop()
    if json_out:
        import json as _json

        with open(json_out, "w") as f:
            _json.dump({"sf_dir": SF_DIR, "results": results}, f, indent=2)
            f.write("\n")
        print(f"wrote {json_out}")
    if failures:
        print(f"\n{len(failures)} failing: {failures}")
        return 1
    print(f"\nall {len(names)} queries pass")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
