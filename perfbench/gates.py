"""Correctness gates: every workload's output checked against an oracle.

Results are compared as multisets of per-row hashes over a canonical
form (strings with one NULL token, numbers and timestamps as float64),
so the check is independent of row order and of pandas' integer vs
nullable-float dtypes. A gate returns the number of rows present on one
side only; 0 means the outputs are equal.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

NULL = "\x00null"

FLAGSHIP_STR = ["conv_id", "text_norm", "role_lag1", "role_lag2", "tool_ffill", "rendered", "digest"]
FLAGSHIP_NUM = [
    "turn_idx", "text_len", "n_tokens", "position", "text_len_lag1", "text_len_lag2",
    "gap_s", "session_id", "turns_so_far", "chars_so_far",
]
ASOF_STR = ["conv_id", "tool_asof"]
ASOF_NUM = ["turn_idx", "text_len_asof", "ts_fact_asof"]

ASOF_ORACLE_SQL = """
    WITH u AS (
        SELECT conv_id, ts, 1 AS side, fact_seq AS seq, tool, text_len,
               ts AS fact_ts, NULL::INTEGER AS turn_idx
        FROM facts
        UNION ALL
        SELECT conv_id, ts, 0 AS side, 0 AS seq, NULL::VARCHAR AS tool,
               NULL::BIGINT AS text_len, NULL::TIMESTAMP AS fact_ts, turn_idx
        FROM spine),
    f AS (
        SELECT conv_id, turn_idx, side,
               LAST_VALUE(tool IGNORE NULLS) OVER w AS tool_asof,
               LAST_VALUE(text_len IGNORE NULLS) OVER w AS text_len_asof,
               LAST_VALUE(fact_ts IGNORE NULLS) OVER w AS ts_fact_asof
        FROM u
        WINDOW w AS (PARTITION BY conv_id ORDER BY ts, side, seq
                     ROWS UNBOUNDED PRECEDING))
    SELECT conv_id, turn_idx, tool_asof, text_len_asof, ts_fact_asof
    FROM f WHERE side = 0
"""
"""The window form of ``oracle_sql()['asof_join']`` (backward, strict:
spine rows sort before facts at equal ts; ties among facts go to the
highest ``fact_seq``), applied to the transcript spine and tool facts."""


def _as_float(s: pd.Series) -> pd.Series:
    if pd.api.types.is_datetime64_any_dtype(s):
        us = s.astype("datetime64[us]")
        return us.astype("int64").astype("float64").where(us.notna(), np.nan)
    return pd.to_numeric(s).astype("float64")


def row_hashes(pdf: pd.DataFrame, str_cols: list[str], num_cols: list[str]) -> np.ndarray:
    """Sorted uint64 hash per row of the canonical projection."""
    canon = pd.DataFrame(
        {c: pdf[c].astype(object).where(pdf[c].notna(), NULL) for c in str_cols}
        | {c: _as_float(pdf[c]) for c in num_cols}
    )
    return np.sort(pd.util.hash_pandas_object(canon, index=False).to_numpy())


def mismatched_rows(got: np.ndarray, want: np.ndarray) -> int:
    """Rows of either side whose hash the other side lacks; a difference
    only in how often a row repeats counts as at least one row."""
    if np.array_equal(got, want):
        return 0
    differ = int((~np.isin(got, want)).sum() + (~np.isin(want, got)).sum())
    return differ or max(abs(len(got) - len(want)), 1)


def flagship_reference_hashes(pdf: pd.DataFrame) -> np.ndarray:
    from turboxsl_spark.reference_impl import reference_features

    return row_hashes(reference_features(pdf), FLAGSHIP_STR, FLAGSHIP_NUM)


def asof_oracle(pdf: pd.DataFrame) -> pd.DataFrame:
    """DuckDB replica of the plain as-of over the transcript table."""
    import duckdb

    spine = pdf[["conv_id", "turn_idx", "ts"]]
    facts = pdf.loc[pdf["tool"].notna(), ["conv_id", "ts", "turn_idx", "tool"]].rename(
        columns={"turn_idx": "fact_seq"}
    )
    facts = facts.assign(text_len=pdf.loc[facts.index, "text"].str.len().astype("int64"))
    con = duckdb.connect()
    try:
        con.register("spine", spine)
        con.register("facts", facts)
        return con.execute(ASOF_ORACLE_SQL).df()
    finally:
        con.close()
