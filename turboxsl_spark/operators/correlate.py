"""``current()`` correlation — outer-row references inside nested paths.

XSLT's ``current()`` (reference ``/root/reference/src/functions.c:125-133``)
lets a nested expression compare against the CONTEXT node rather than
the step's own node — the key-lookup idiom ``key('k', current()/@id)``
or predicates like ``item[@price > current()/@budget]``. Relationally
that is a correlated subquery: every row is compared against a scalar
derived from its own group.

Spark-first mapping: compute the per-group scalars ONCE with a
hash-aggregate (map-side partial agg), then attach them back to each
row through a BroadcastHashJoin: the group table is a dimension
(|groups| ≪ |rows|), so the fact side pays zero extra shuffle. This is
the ``key()``-style plan (plan-asserted in tests/test_plans.py).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_current(
    df: DataFrame,
    keys: str | Sequence[str],
    aggs: Mapping[str, Column],
) -> DataFrame:
    """Attach per-group scalars (``current()``'s view of the group) to
    every row of the group.

    ``aggs``: output-column-name → aggregate Column (e.g.
    ``{"grp_max": F.max("value")}``). Returns ``df`` plus those columns;
    the caller then expresses the correlated predicate as an ordinary
    column comparison.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    g = df.groupBy(*keys).agg(*[v.alias(k) for k, v in aggs.items()])
    return df.join(F.broadcast(g), keys)
