"""Local simulation of the driver's t2 correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark AND its ``oracle_sql()``
on DuckDB, compares row count + column names + order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from graphchi_cpp_spark.session import get_spark


def canon_rows(df, ndigits=6):
    rows = []
    for tup in df.itertuples(index=False):
        out = []
        for v in tup:
            if isinstance(v, float):
                v = round(v, ndigits)
                if v == -0.0:
                    v = 0.0
            out.append(str(v))
        rows.append("|".join(out))
    return sorted(rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    # three buckets, reported separately: a rows-only query is NOT a
    # hash-verified pass and must not inflate n_pass
    n_pass = n_rows_only = n_fail = 0
    results: dict[str, dict] = {}

    def record(name, *, rows_match=None, schema_match=None, hash_match=None,
               spark_rows=None, oracle_rows=None, err=None):
        results[name] = {
            "rows_match": rows_match,
            "schema_match": schema_match,
            "hash_match": hash_match,
            "spark_rows": spark_rows,
            "oracle_rows": oracle_rows,
            "err": err,
        }

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            record(name, err=f"spark: {type(e).__name__}: {e}"[:300])
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows={len(sdf)} (no oracle, rows-only) "
                  f"[{time.time()-t0:.1f}s]")
            record(name, spark_rows=len(sdf), err="no_oracle")
            n_rows_only += 1
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            record(name, spark_rows=len(sdf),
                   err=f"duckdb: {type(e).__name__}: {e}"[:300])
            n_fail += 1
            continue
        scols, dcols = sorted(sdf.columns), sorted(ddf.columns)
        if scols != dcols:
            print(f"FAIL {name}: columns {scols} != {dcols}")
            record(name, schema_match=False, spark_rows=len(sdf),
                   oracle_rows=len(ddf))
            n_fail += 1
            continue
        srows, drows = canon_rows(sdf[scols]), canon_rows(ddf[dcols])
        if len(srows) != len(drows):
            print(f"FAIL {name}: rows {len(srows)} != {len(drows)}")
            record(name, rows_match=False, schema_match=True,
                   spark_rows=len(srows), oracle_rows=len(drows))
            n_fail += 1
            continue
        bad = [(a, b) for a, b in zip(srows, drows) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)} row mismatches; first: {bad[:3]}")
            record(name, rows_match=True, schema_match=True, hash_match=False,
                   spark_rows=len(srows), oracle_rows=len(drows))
            n_fail += 1
        else:
            print(f"PASS {name}: rows={len(srows)} [{time.time()-t0:.1f}s]")
            record(name, rows_match=True, schema_match=True, hash_match=True,
                   spark_rows=len(srows), oracle_rows=len(drows))
            n_pass += 1

    # committable artifact in the driver's CORRECTNESS_r{N}.json shape.
    # A full run always rewrites CORRECTNESS_local.json (every registered
    # query); SPARK_GRAFT_CORRECTNESS_OUT names an extra output, e.g. the
    # touched-queries-at-sf0.1 gate committed per round. A subset run
    # writes only that extra output, and records its subset under "only".
    payload = {"sf_dir": sf_dir, "unix_time": int(time.time()),
               "n_pass": n_pass, "n_rows_only": n_rows_only,
               "n_fail": n_fail, "queries": results}
    if only:
        payload["only"] = sorted(only)
    outs = [] if only else [os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "CORRECTNESS_local.json")]
    if os.environ.get("SPARK_GRAFT_CORRECTNESS_OUT"):
        outs.append(os.environ["SPARK_GRAFT_CORRECTNESS_OUT"])
    for out in outs:
        with open(out, "w") as f:
            json.dump(payload, f, indent=2)
        print(f"wrote {out}")
    print(f"\n{n_pass} hash-verified, {n_rows_only} rows-only, "
          f"{n_fail} failed")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
