#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [jsonOut]

Every query Verify recorded in verifyOutDir/failures.json (it threw in
Spark) counts as a fail. For each other <name> directory of Spark
parquet under verifyOutDir, runs
oracle_sql.json[<name>] in DuckDB with views over the sfDir tables and
compares: schema (column names), row count, and cell values (columns
sorted by name, rows sorted, exact match after canonicalization).
Also gates on the oracle's DuckDB result types (see bad_types).

An oracle that reads another query's dump names it as
'__VERIFY_OUT__/<name>/'; the placeholder is replaced with the absolute
path of verifyOutDir, so a moved or copied dump checks the same. (Dumps
that Verify wrote with absolute paths already carry no placeholder.)

A query without an oracle is rows-only: its record carries the reason
Verify wrote to rows_only.json, and a query with neither an oracle nor
a reason there counts as a fail. A dump without rows_only.json counts
every query without an oracle as rows-only.

With jsonOut, additionally writes a machine-readable per-query record
(the CORRECTNESS_sf01.json artifact committed per round, so the
"full suite green at sf0.1" claim is a checked file, not prose).
"""
import json
import math
import os
import shutil
import sys
import tempfile

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# DuckDB result types with no parquet/Spark equivalent. The driver's hash
# is TYPE-sensitive: an oracle emitting HUGEINT (e.g. an uncast sum() over
# BIGINT) hash-mismatches a value-identical Spark BIGINT column even though
# this script's stringified compare passes. Gate on the oracle's result
# schema so that class of red row is caught locally (round-6 q140).
def bad_types(type_list):
    bad = []
    for t in type_list:
        s = str(t).upper()
        if ("HUGEINT" in s or s.startswith("DECIMAL")
                or s.startswith("UBIGINT") or s.startswith("UINTEGER")
                or s.startswith("USMALLINT") or s.startswith("UTINYINT")
                or s == "TIME" or s.startswith("INTERVAL")):
            bad.append(s)
    return bad


def load_oracles(out_dir):
    """oracle_sql.json with the fixture placeholder bound to out_dir."""
    with open(f"{out_dir}/oracle_sql.json") as fh:
        oracles = json.load(fh)
    here = os.path.abspath(out_dir)
    return {k: v.replace("__VERIFY_OUT__", here) for k, v in oracles.items()}


def selftest():
    con = duckdb.connect()
    # uncast sum() over BIGINT → HUGEINT: the detector MUST flag it
    r1 = con.sql("SELECT sum(x) AS s FROM (SELECT CAST(1 AS BIGINT) x)")
    assert bad_types(r1.types), f"uncast sum not flagged: {r1.types}"
    # cast sum → BIGINT: must pass
    r2 = con.sql(
        "SELECT CAST(sum(x) AS BIGINT) AS s FROM (SELECT CAST(1 AS BIGINT) x)")
    assert not bad_types(r2.types), f"cast sum flagged: {r2.types}"
    # doubles, varchar, date, timestamp, bool, lists: must pass
    r3 = con.sql("SELECT 1.5::DOUBLE a, 'x' b, DATE '2020-01-01' c, "
                 "TIMESTAMP '2020-01-01 00:00:00' d, true e, [1, 2] f")
    assert not bad_types(r3.types), f"benign types flagged: {r3.types}"
    # decimal literal arithmetic: must be flagged
    r4 = con.sql("SELECT 1.5 AS a")
    assert bad_types(r4.types), f"DECIMAL not flagged: {r4.types}"
    # a fixture-reading oracle finds its fixture after the dump moves
    with tempfile.TemporaryDirectory() as tmp:
        dump = f"{tmp}/dump"
        os.makedirs(f"{dump}/fix")
        con.sql("COPY (SELECT 7 AS v) TO "
                f"'{dump}/fix/part-0.parquet' (FORMAT PARQUET)")
        with open(f"{dump}/oracle_sql.json", "w") as fh:
            json.dump({"q": "SELECT v FROM "
                       "read_parquet('__VERIFY_OUT__/fix/*.parquet')"}, fh)
        moved = f"{tmp}/moved"
        shutil.move(dump, moved)
        got = con.sql(load_oracles(moved)["q"]).fetchall()
        assert got == [(7,)], f"moved dump lost its fixture: {got}"
    print("selftest OK")


def canon(v):
    # every cell becomes a (tag, str) pair so rows sort across NULLs
    # and mixed types (rollup/cube emit NULL subtotal keys)
    if v is None:
        return (0, "")
    if isinstance(v, float):
        if math.isnan(v):
            return (1, "NaN")
        return (1, repr(round(v, 9)))
    if hasattr(v, "isoformat"):
        return (2, v.isoformat())
    if isinstance(v, list):
        return (3, repr([canon(x) for x in v]))
    return (4, str(v))


def main():
    if sys.argv[1:] == ["--selftest"]:
        selftest()
        return
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    json_out = sys.argv[3] if len(sys.argv) > 3 else None
    record = {}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')")
    oracles = load_oracles(out_dir)
    # dumps older than failures.json have none; a query that threw left
    # no (or a partial) directory, so it is counted here, not compared
    failures_path = f"{out_dir}/failures.json"
    failures = (json.load(open(failures_path))
                if os.path.exists(failures_path) else {})
    # dumps older than rows_only.json carry no reasons
    rows_only_path = f"{out_dir}/rows_only.json"
    rows_only = (json.load(open(rows_only_path))
                 if os.path.exists(rows_only_path) else None)
    n_pass = n_fail = 0
    for name, err in sorted(failures.items()):
        print(f"✗ {name}: SPARK FAILED: {err[:200]}")
        record[name] = {"status": "spark_error", "err": err[:200]}
        n_fail += 1
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(f"{out_dir}/{d}") and d not in failures)
    for name in names:
        spark_rel = con.sql(
            f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
        spark_cols = sorted(spark_rel.columns)
        spark_rows = sorted(
            tuple(canon(v) for v in row) for row in con.sql(
                "SELECT " + ", ".join(f'"{c}"' for c in spark_cols) +
                f" FROM spark_rel").fetchall())
        if name not in oracles:
            if rows_only is not None and name not in rows_only:
                print(f"✗ {name}: NO ORACLE and no rows-only reason")
                record[name] = {"status": "no_reason",
                                "spark_rows": len(spark_rows)}
                n_fail += 1
                continue
            print(f"  {name}: NO-ORACLE rows={len(spark_rows)} "
                  f"cols={spark_cols}")
            record[name] = {"status": "no_oracle",
                            "spark_rows": len(spark_rows)}
            if rows_only is not None:
                record[name]["reason"] = rows_only[name]
            continue
        try:
            ora = con.sql(oracles[name])
            ora_cols = sorted(ora.columns)
            ora_rows = sorted(
                tuple(canon(v) for v in row) for row in con.sql(
                    "SELECT " + ", ".join(f'"{c}"' for c in ora_cols) +
                    " FROM ora").fetchall())
        except Exception as e:
            print(f"✗ {name}: ORACLE SQL ERROR: {e}")
            record[name] = {"status": "oracle_error", "err": str(e)[:200]}
            n_fail += 1
            continue
        bad = bad_types(ora.types)
        if bad:
            print(f"✗ {name}: ORACLE TYPE drift (driver hash is "
                  f"type-sensitive): {bad} — cast in the oracle SQL")
            record[name] = {"status": "type_drift", "types": bad}
            n_fail += 1
            continue
        if spark_cols != ora_cols:
            print(f"✗ {name}: SCHEMA spark={spark_cols} oracle={ora_cols}")
            record[name] = {"status": "schema_mismatch"}
            n_fail += 1
        elif len(spark_rows) != len(ora_rows):
            print(f"✗ {name}: ROWS spark={len(spark_rows)} "
                  f"oracle={len(ora_rows)}")
            record[name] = {"status": "row_mismatch",
                            "spark_rows": len(spark_rows),
                            "oracle_rows": len(ora_rows)}
            n_fail += 1
        elif spark_rows != ora_rows:
            bad = [(a, b) for a, b in zip(spark_rows, ora_rows) if a != b]
            print(f"✗ {name}: VALUES {len(bad)}/{len(spark_rows)} differ; "
                  f"first: spark={bad[0][0]} oracle={bad[0][1]}")
            record[name] = {"status": "value_mismatch",
                            "n_differ": len(bad)}
            n_fail += 1
        else:
            print(f"✓ {name}: {len(spark_rows)} rows")
            record[name] = {"status": "pass", "rows": len(spark_rows)}
            n_pass += 1
    n_rows_only = len(names) + len(failures) - n_pass - n_fail
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if json_out:
        with open(json_out, "w") as fh:
            json.dump({"sf_dir": sf_dir, "n_pass": n_pass,
                       "n_fail": n_fail,
                       "n_rows_only": n_rows_only,
                       "queries": record}, fh, indent=1, sort_keys=True)
            fh.write("\n")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
