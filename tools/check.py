#!/usr/bin/env python3
"""DRIVER-FAITHFUL local mirror of the correctness gate (dev tool only;
the engine itself is pure Scala/Spark).

Faithfulness contract (round-9, after the r8 postmortem): the driver
loads each side into a pandas DataFrame, sorts columns by name, row-sorts
with `DataFrame.sort_values(by=<all columns>)`, and hashes the values in
a dtype-sensitive way. Two consequences this mirror MUST reproduce:

  1. A list/struct-valued column (numpy.ndarray / dict cells) makes
     `sort_values` raise `TypeError: unhashable type` -> the gate is
     scored `err`, NOT ok. The old repr-sort mirror said "ok" on exactly
     the six gates the r8 driver scored red.
  2. Value hashing sees dtype: DuckDB HUGEINT (int128) reaches pandas as
     float64 while Spark's BIGINT arrives as int64, so 274 vs 274.0
     hash-differ even though a numeric compare would pass (the d50 red).

Implementation: both sides are read through DuckDB then `.df()` (so
NULL-int -> float64 promotion is symmetric), rows sorted via pandas, and
the hash is sha256 over `repr()` of `Series.tolist()` values -- tolist()
of a float64 column yields Python floats ("274.0") and of an int64
column Python ints ("274"), which is precisely the dtype sensitivity the
driver exhibits. Floats are hashed at FULL precision (the driver does;
gates that could differ in ulps round on both sides by repo convention).

Runs after `tools/run.sh graft.Verify <sfDir> <outDir>`. To check a
subset, give Verify a third argument, comma-separated name substrings
(`graft.Verify <sfDir> <outDir> g09,g12`): it writes only the matching
queries plus the full oracle_sql.json, and this script checks each query
written.
Usage: python3 tools/check.py /root/testdata/sf0.01 /tmp/verify_out
"""
import hashlib
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rel):
    """Driver-faithful canonical form: (sorted columns, row count, value
    hash). Raises (TypeError, ...) on unhashable cells like the driver."""
    df = rel.df()
    cols = sorted(df.columns)
    df = df[cols]
    # The driver's row sort. ndarray/dict cells -> TypeError, by design.
    df = df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256()
    for c in cols:
        for v in df[c].tolist():
            h.update(repr(v).encode())
            h.update(b"\x1f")
        h.update(b"\x1e")
    return cols, len(df), h.hexdigest()


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    ok = fail = err = 0
    produced = sorted(d for d in os.listdir(out_dir)
                      if os.path.isdir(os.path.join(out_dir, d)))
    for name in produced:
        if name not in oracle:
            n = len(con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
            print(f"  {name}: NO-ORACLE rows={n}")
            continue
        try:
            g_cols, g_rows, g_hash = canon(
                con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'"))
            e_cols, e_rows, e_hash = canon(con.sql(oracle[name]))
        except Exception as e:  # the driver records these as err gates
            print(f"ERR  {name}: {type(e).__name__}: {e}")
            err += 1
            continue
        if g_cols != e_cols:
            print(f"FAIL {name}: columns {g_cols} != {e_cols}")
            fail += 1
        elif g_rows != e_rows:
            print(f"FAIL {name}: rows {g_rows} != {e_rows}")
            fail += 1
        elif g_hash != e_hash:
            print(f"FAIL {name}: hash mismatch ({g_rows} rows; "
                  f"dtype or value diff -- diff with duckdb by hand)")
            fail += 1
        else:
            print(f"  ok {name} ({g_rows} rows)")
            ok += 1
    print(f"\n{ok} ok, {fail} fail, {err} err, "
          f"{len(produced) - ok - fail - err} oracle-less")
    return 1 if (fail or err) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
