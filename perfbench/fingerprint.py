"""Order-insensitive result fingerprints shared by the engine side and
the DuckDB oracle side of the operator_mix correctness check.

A fingerprint is (row count, sha256 of the sorted row multiset). Columns
are taken in name order, doubles are rounded to 9 significant digits
(float sums differ in the last bits with evaluation order) and every
other value is compared by its plain text form.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math


def canon(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if f == int(f) and abs(f) < 1e15:
            return str(int(f))
        return f"{f:.9g}"
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def fingerprint(rows, colnames) -> dict:
    """{"rows": n, "sha256": hex} over ``rows`` (sequences aligned with
    ``colnames``), independent of row order and column order."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return {"rows": len(lines), "sha256": h.hexdigest()}


def oracle_fingerprints(sf_dir: str, names: list[str]) -> dict:
    """DuckDB ``oracle_sql()`` fingerprints of registry queries over the
    test tables in ``sf_dir`` (how data/oracle_fingerprints.json is made)."""
    import os

    import duckdb

    import __spark_entry__ as entry
    from geosparql_etl_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = entry.oracle_sql()
    out = {}
    for name in names:
        tbl = con.execute(oracles[name]).arrow()
        cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
        out[name] = fingerprint(list(zip(*cols)), tbl.column_names)
    return out


if __name__ == "__main__":
    # python3 perfbench/fingerprint.py perfbench/data/sf0.01 <query>... (from the checkout root)
    import json
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    print(json.dumps(oracle_fingerprints(sys.argv[1], sys.argv[2:]), indent=1, sort_keys=True))
