"""Audit every oracle for driver-hash type hazards.

The driver hashes typed values; DuckDB's SUM over integers returns HUGEINT
(int128) while Spark returns BIGINT — identical values, different hash
(the q121 red row in round 1). This tool compares, per query, the Arrow
schema DuckDB produces for the oracle (LIMIT 0 — no data scanned) against
the Spark DataFrame's analyzed schema (lazy — no job run), and flags every
column whose types differ.

Usage: python tools/oracle_type_audit.py [sf_dir]
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as e

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# Spark simpleString -> expected DuckDB/Arrow type names (lowercase).
SPARK_TO_ARROW = {
    "bigint": {"int64"},
    "int": {"int32"},
    "smallint": {"int16"},
    "tinyint": {"int8"},
    "double": {"double"},
    "float": {"float"},
    "string": {"string", "large_string"},
    "boolean": {"bool"},
    "date": {"date32[day]"},
    "timestamp": {"timestamp[us]", "timestamp[ns]", "timestamp[us, tz=UTC]"},
    "binary": {"binary", "large_binary"},
}


def main():
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-type-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = e.queries()
    oq = e.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )

    bad = []
    for name in sorted(oq):
        try:
            sschema = {f.name.lower(): f.dataType.simpleString() for f in qs[name](spark, SF).schema.fields}
        except Exception as ex:  # noqa: BLE001
            bad.append((name, f"spark schema error: {ex}"))
            continue
        try:
            tbl = con.execute(f"SELECT * FROM ({oq[name]}) LIMIT 0").fetch_arrow_table()
        except Exception as ex:  # noqa: BLE001
            bad.append((name, f"duckdb error: {str(ex)[:200]}"))
            continue
        dschema = {f.name.lower(): str(f.type) for f in tbl.schema}
        if set(sschema) != set(dschema):
            bad.append((name, f"cols spark={sorted(sschema)} duck={sorted(dschema)}"))
            continue
        for col, stype in sschema.items():
            dtype = dschema[col]
            ok = SPARK_TO_ARROW.get(stype)
            if ok is None:
                # decimal(p,s) etc.: require duckdb to be decimal too
                if stype.startswith("decimal") and dtype.startswith("decimal"):
                    if stype != dtype.replace(" ", ""):
                        bad.append((name, f"{col}: spark={stype} duck={dtype}"))
                else:
                    bad.append((name, f"{col}: unmapped spark type {stype} vs duck {dtype}"))
            elif dtype not in ok:
                bad.append((name, f"{col}: spark={stype} duck={dtype}"))

    if bad:
        print(f"{len(bad)} type hazards:")
        for n, msg in bad:
            print(f"  {n}: {msg}")
        sys.exit(1)
    print(f"all {len(oq)} oracles type-exact vs Spark schemas")


if __name__ == "__main__":
    main()
