"""Local replica of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet, compare row count + schema (column names) +
order-insensitive value hash. ``connect`` and ``check_parity`` are that
comparison for the test suite.

Usage: python tools/check_oracle.py [sf_dir] [only_query_name ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
from datetime import date, datetime
from decimal import Decimal

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _norm(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # normalize -0.0 and format stably
        if v == 0:
            v = 0.0
        return repr(round(v, 9))
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _lines(cols: list[str], rows: list[tuple]) -> list[str]:
    """Each row normalized with its columns in name order, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for line in _lines(cols, rows):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def connect(sf_dir: str):
    """A DuckDB connection with one view per ``TABLES`` parquet found in
    ``sf_dir``, the names the oracle SQL reads. A table is one parquet
    file or, as Spark writes it, a directory of part files."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def check_parity(sdf, cur) -> int:
    """The oracle comparison: Spark frame ``sdf`` and executed DuckDB
    cursor ``cur`` must agree on row count, column names and
    ``value_hash``. Raises AssertionError naming what differs (with the
    first differing row); returns the row count."""
    srows = [tuple(r) for r in sdf.collect()]
    scols = list(sdf.columns)
    dcols = [d[0] for d in cur.description]
    drows = [tuple(r) for r in cur.fetchall()]
    problems = []
    if len(srows) != len(drows):
        problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
    if sorted(scols) != sorted(dcols):
        problems.append(f"schema spark={sorted(scols)} duck={sorted(dcols)}")
    elif (sh := value_hash(scols, srows)) != (dh := value_hash(dcols, drows)):
        a, b = next(((a, b) for a, b in zip(
            _lines(scols, srows), _lines(dcols, drows)) if a != b), ("", ""))
        problems.append(f"valuehash spark={sh} duck={dh}"
                        f"\n   spark: {a[:200]}\n   duck : {b[:200]}")
    if problems:
        raise AssertionError("; ".join(problems))
    return len(srows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[8]")
             .appName("oracle-check")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .getOrCreate())

    con = connect(sf_dir)
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        try:
            if sql is None:
                rows = fn(spark, sf_dir).count()
                print(f"SKIP {name}: rows-only check (no oracle), rows={rows}")
                continue
            rows = check_parity(fn(spark, sf_dir), con.execute(sql))
        except AssertionError as e:
            print(f"FAIL {name}: {e}")
            failures.append(name)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: error: {e}")
            failures.append(name)
        else:
            print(f"OK   {name}: rows={rows}")
    spark.stop()
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
