"""Every ``queries()`` entry against its DuckDB oracle, in Tier-1.

The same comparison as ``tools/check_oracle.py`` (column names, dtypes,
row count, sorted bit-exact values at sf0.01), run over the session's
``spark``.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from tools.check_oracle import compare, connect

# real image/audio/video decode kernels over binary payloads: checked
# for rows only (their invariants are pinned in tests/test_multimodal.py)
ROWS_ONLY = {"multimodal_features"}
QUERIES = entry.queries()


@pytest.fixture(scope="module")
def duck():
    con = connect()
    yield con
    con.close()


@pytest.fixture(scope="module")
def oracles():
    return entry.oracle_sql()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, duck, oracles, name):
    assert (name in oracles) != (name in ROWS_ONLY), name
    _, bad = compare(spark, duck, QUERIES[name], oracles.get(name))
    assert not bad, "\n".join(bad)
