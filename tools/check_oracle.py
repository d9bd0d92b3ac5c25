"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 and compares
it against ``oracle_sql()`` via DuckDB: row count, column names, and an
order-insensitive value comparison (sorted rows, float-tolerant).

Usage: python tools/check_oracle.py [name ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
# thread the gated corpus into oracle generators that train on data
# (_ann_ivf_oracle): the oracle must see the SAME corpus the views
# register, or its centroid literals silently diverge (ADVICE r04)
os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # exact repr — the driver's gate hashes exact values, so the
        # local replica must be bit-strict too (6g hid ULP-level bugs)
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _arrow_result(table):
    """Column names, row tuples and column → Arrow type of one result.

    One Arrow table per engine gives both the values and the types the
    driver hashes (DuckDB SUM(int)=HUGEINT vs Spark BIGINT was a
    round-1 fail), so each query runs once on each engine."""
    rows = list(zip(*(c.to_pylist() for c in table.columns)))
    return table.column_names, rows, {f.name: str(f.type) for f in table.schema}


def _norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in idx) for r in rows]
    out.sort()
    return [cols[i] for i in idx], out


def connect():
    """A DuckDB connection with every table of SF_DIR as a view."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def compare(spark, con, fn, oracle: str | None) -> tuple[str, list[str]]:
    """Build the query ``fn`` at SF_DIR and compare it with the DuckDB
    SQL ``oracle``: column names, dtypes, row count and the sorted,
    bit-exact values.

    Returns ``(summary, mismatches)``: the summary is ``"OK (n rows)"``
    or, without an oracle, ``"rows-only (n rows) — no oracle"``; each
    failed check adds one line to ``mismatches``.
    """
    scols, srows, stypes = _arrow_result(fn(spark, SF_DIR).toArrow())
    if oracle is None:
        return f"rows-only ({len(srows)} rows) — no oracle", []
    dcols, drows, dtypes = _arrow_result(con.sql(oracle).fetch_arrow_table())
    sc, sn = _norm_rows(scols, srows)
    dc, dn = _norm_rows(dcols, drows)
    bad = []
    if sc != dc:
        bad.append(f"COLUMN MISMATCH spark={sc} duck={dc}")
    # dtype parity: a value hash covers the type (DuckDB HUGEINT vs Spark BIGINT)
    for col in set(dtypes) & set(stypes):
        a, b = stypes[col], dtypes[col]
        if a != b and not (
            a.startswith("timestamp") and b.startswith("timestamp")
        ):
            bad.append(f"DTYPE MISMATCH {col}: spark={a} duck={b}")
    if len(sn) != len(dn):
        bad.append(f"ROWCOUNT MISMATCH spark={len(sn)} duck={len(dn)}")
    if not bad and sn != dn:
        diff = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
        bad.append(f"VALUE MISMATCH, first diffs: {diff}")
    return f"OK ({len(sn)} rows)", bad


def main(names: list[str] | None = None) -> int:
    import __spark_entry__ as entrymod
    from turboxsl_spark.session import get_spark

    spark = get_spark("oracle-check", cores=8, shuffle_partitions=16)
    con = connect()

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name in names or list(qs):
        summary, bad = compare(spark, con, qs[name], oracles.get(name))
        for line in bad:
            print(f"{name}: {line}")
        if bad:
            failures += 1
        else:
            print(f"{name}: {summary}")
    return failures


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
