"""Local replica of the driver's correctness gate.

Runs every oracled query from __spark_entry__.queries() against its
oracle_sql() twin on the same parquet fixtures (default sf0.01) and
compares rows, schema (column names sorted), and a value hash computed
over column-name-sorted, row-sorted string-normalised values — the same
shape the driver records in CORRECTNESS_r{N}.json. A query with no
oracle prints its own value hash and row count instead, so diffing the
output of two trees covers every declared query.

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _norm_cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _hash_rows(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.session.timeZone", "UTC")
        # the engine session's Arrow conversions (zvdb_spark/session.py):
        # the PQ/SQ8 queries hand createDataFrame ndarray cells
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .appName("check-correctness")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            if name not in oracles:
                print(
                    f"{name:32s} rows-only {_hash_rows(scols, srows)} "
                    f"rows={len(srows)}  ({time.time() - t0:.1f}s)"
                )
                continue
            ores = con.execute(oracles[name])
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
            rows_ok = len(srows) == len(orows)
            schema_ok = sorted(scols) == sorted(ocols)
            hash_ok = (
                schema_ok
                and _hash_rows(scols, srows) == _hash_rows(ocols, orows)
            )
            ok = rows_ok and schema_ok and hash_ok
            status = "ok" if ok else (
                f"FAIL rows={len(srows)}/{len(orows)} "
                f"schema={schema_ok} hash={hash_ok}"
            )
            if not ok:
                failures.append(name)
            print(f"{name:32s} {status}  ({time.time() - t0:.1f}s)")
        except Exception as exc:  # noqa: BLE001 - report and continue
            failures.append(name)
            print(f"{name:32s} ERR {type(exc).__name__}: {exc}")
    print(
        f"\n{len(failures)} failures"
        + (f": {failures}" if failures else " — all green")
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
