"""Pinned oracle results of the vector_arrow queries.

The benchmark checks each query's rows against a signature pinned from
the DuckDB oracle, so that DuckDB never runs inside a measured process.
A signature is what ``oracle.compare_query`` compares: the column names,
the Python type class of every column, the row count and an
order-insensitive sha256 of the values. It is computed here, not with
the engine's own helpers, so that a change to the engine cannot change
the check.

Re-pin after a fixture or oracle-SQL change (needs duckdb, not Spark):

    python3 perfbench/pinned.py
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PINNED = os.path.join(HERE, "oracle.json")


def _type_class(v) -> str:
    if isinstance(v, bool):  # before int: bool subclasses int
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, dt.datetime):  # before date: datetime subclasses date
        return "datetime"
    if isinstance(v, dt.date):
        return "date"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (bytes, bytearray)):
        return "bytes"
    if isinstance(v, (list, tuple)):
        return "list"
    return type(v).__name__


def _cell(v) -> str:
    if v is None:
        return "␀"
    if isinstance(v, float):
        # both engines hand back Python floats: equal bits, equal repr
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def signature(columns: list[str], rows: list[tuple]) -> dict:
    """Order-insensitive signature of a result, columns taken by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256()
    for line in sorted("\x1f".join(_cell(row[i]) for i in order) for row in rows):
        h.update(line.encode())
        h.update(b"\n")
    return {
        "columns": [columns[i] for i in order],
        "types": [sorted({_type_class(r[i]) for r in rows if r[i] is not None}) for i in order],
        "rows": len(rows),
        "sha256": h.hexdigest(),
    }


def load() -> dict[str, dict]:
    with open(PINNED) as f:
        return json.load(f)


def main() -> int:
    sys.path.insert(0, os.path.dirname(HERE))
    import duckdb

    from stock_data_pipeline_spark.oracle import register_duckdb_views
    from stock_data_pipeline_spark.queries._p1_parity_corpus import REGISTRY
    from workloads import FIXTURE, VECTOR_ARROW

    con = duckdb.connect()
    register_duckdb_views(con, FIXTURE)
    out = {}
    for q in VECTOR_ARROW:
        # Arrow keeps DuckDB's logical types (HUGEINT -> decimal), as the oracle does
        table = con.execute(REGISTRY[q].oracle).fetch_arrow_table()
        rows = list(zip(*(c.to_pylist() for c in table.columns)))
        out[q] = signature(list(table.column_names), rows)
    con.close()
    with open(PINNED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
