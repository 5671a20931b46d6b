"""Expected-output fingerprints for the benchmark's catalog queries.

A fingerprint is the row count plus a SHA-256 over the rows, normalised the
way ``scripts/check_oracle.py`` compares Spark with DuckDB: columns sorted
by name, floats rounded to 9 places, bytes as hex, dates and times in ISO
form, lists as tuples, and rows sorted, so row order never matters.

The committed ``fingerprints.json`` comes from the DuckDB oracle of each
query (``oracle_sql()``) over the benchmark's copy of the sf0.1 tables, not
from Spark.  Regenerate it from the repository root with::

    python3 perfbench/fingerprint.py
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
SF_DIR = os.path.join(HERE, "data", "sf0.1")


def _norm(v):
    """One value as a canonical Python object whose ``repr`` is the same
    for equal values from either engine."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9) + 0.0  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, bytes | bytearray):
        return bytes(v).hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "asDict"):  # a Spark Row is a struct, like DuckDB's dict
        v = v.asDict()
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, list | tuple):
        return tuple(_norm(x) for x in v)
    return v


def fingerprint(rows, columns: list[str]) -> dict:
    """``{"rows": n, "sha256": hex}`` of ``rows`` (sequences aligned with
    ``columns``), independent of row and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    digest = hashlib.sha256()
    digest.update(repr(sorted(columns)).encode())
    for line in lines:
        digest.update(b"\n")
        digest.update(line.encode())
    return {"rows": len(lines), "sha256": digest.hexdigest()}


def load() -> dict:
    with open(FINGERPRINTS, encoding="utf-8") as fh:
        return json.load(fh)


def main() -> int:
    sys.path.insert(0, ROOT)
    import duckdb

    from duckdb_cluster_hash_spark.plans.catalog import ORACLES
    from workloads import WORKLOADS, catalog_queries

    con = duckdb.connect()
    for t in sorted({t for w in WORKLOADS.values() for t in w.tables}):
        con.execute(f"CREATE VIEW {t} AS FROM read_parquet('{SF_DIR}/{t}.parquet')")
    out = {}
    for name in sorted(catalog_queries()):
        rel = con.sql(ORACLES[name])
        out[name] = fingerprint(rel.fetchall(), [d[0] for d in rel.description])
        print(f"{name}: {out[name]['rows']} rows", file=sys.stderr)
    with open(FINGERPRINTS, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
