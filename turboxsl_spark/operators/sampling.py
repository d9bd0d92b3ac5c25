"""Deterministic content-keyed sampling / splitting.

``df.sample`` is seed-and-partitioning dependent: the row set changes
under repartition, between engines, and between runs over re-generated
data. Corpus builds need the opposite — a sampling decision that is a
PURE FUNCTION of the key, so that:

  * train/val/test membership is reproducible anywhere (any engine
    that can md5 computes the identical set — the DuckDB oracle does),
  * co-sampling is consistent: sample a conversation and every table
    keyed by that conversation follows (join-closed samples),
  * resuming / backfilling never re-draws the sample.

Mechanism: the first 32 bits of ``md5(salt <SEP> key1 <SEP> key2 ...)``
as a uniform integer in [0, 2^32); keep iff it falls below
``rate * 2^32``; splits partition the same axis by cumulative weights.
``SEP`` is the ASCII unit separator ``\\x1f`` so that multi-key tuples
like ('ab','c') and ('a','bc') hash differently — any engine can
reproduce it (DuckDB: ``chr(31)``, Python: ``"\\x1f"``). NULL key
components are coalesced to a NUL-prefixed sentinel before the concat
(see ``NULL_SENTINEL``) so tuples with NULLs in different positions
stay distinct and deterministic. Map-only, no shuffle, JVM-side (md5 +
conv are codegen expressions). ``salt`` decorrelates independent draws
over the same keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from turboxsl_spark.functions.strings import _sql_str
from turboxsl_spark.operators.skew import _q

_U32 = float(1 << 32)
# ASCII unit separator: makes the multi-key concatenation injective for
# keys that don't themselves contain \x1f (true for ids/numeric keys).
SEP = "\x1f"


# NULL key components are encoded as a distinct sentinel BEFORE the
# concat: concat_ws silently skips NULL args, which would make the key
# tuples ('a', NULL, 'b') and ('a', 'b', NULL) collide and a NULL
# single key hash to the bare salt. The sentinel starts with NUL so it
# cannot collide with a real string value of any cast key (cast never
# produces NUL), keeping the tuple encoding injective. Any engine
# reproduces it: DuckDB ``coalesce(c::VARCHAR, chr(0)||'null')``.
NULL_SENTINEL = "\x00null"


def _key_digest_sql(key_cols: Sequence[str], salt: str) -> str:
    """SQL text of the hex ``md5(salt SEP key1 SEP key2 ...)``, each key
    column cast to string and a NULL one encoded as ``NULL_SENTINEL`` —
    the one keyed digest of the sampling and sketch families. SQL text,
    not a ``Column`` tree, so it costs one Py4J call to build."""
    keyed = [f"coalesce(CAST({_q(c)} AS STRING), {_sql_str(NULL_SENTINEL)})" for c in key_cols]
    return f"md5(concat_ws({', '.join([_sql_str(SEP), _sql_str(salt), *keyed])}))"


def _hash_u32(key_cols: Sequence[str], salt: str) -> Column:
    # first 8 hex chars → 32-bit uniform integer (conv returns string)
    digest = _key_digest_sql(key_cols, salt)
    return F.expr(f"CAST(conv(substring({digest}, 1, 8), 16, 10) AS BIGINT)")


def hash_sample(
    df: DataFrame,
    key_cols: str | Sequence[str],
    rate: float,
    salt: str = "",
) -> DataFrame:
    """Keep rows whose key hashes below ``rate`` (Bernoulli over keys).

    All rows sharing a key are kept or dropped TOGETHER; expected kept
    fraction of distinct keys = ``rate``.
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    return df.where(_hash_u32(keys, salt) < int(rate * _U32))


def stratified_hash_sample(
    df: DataFrame,
    key_cols: str | Sequence[str],
    stratum_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum Bernoulli keep rates, same pure-function contract.

    ``rates``: stratum value → keep rate; strata not listed fall back
    to ``default_rate`` (0.0 = drop, 1.0 = keep all). The hash ignores
    the stratum, so changing a rate never re-draws which keys of a
    stratum are kept — raising a rate strictly grows the sample
    (nested samples, the property backfills need).
    """
    for s, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {s!r} must be in [0, 1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    h = _hash_u32(keys, salt)
    thresh: Column = F.lit(int(default_rate * _U32))
    for s, r in rates.items():
        thresh = F.when(F.col(stratum_col) == F.lit(s), F.lit(int(r * _U32))).otherwise(
            thresh
        )
    return df.where(h < thresh)


def mix_resample(
    df: DataFrame,
    key_cols: str | Sequence[str],
    domain_col: str,
    targets: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Resample to target domain proportions — the corpus-mixing op.

    Water-filling closed form: the largest corpus with EXACT expected
    proportions ``targets`` keeps ``T = min_d(n_d / w_d)`` rows, so
    domain ``d`` gets keep-rate ``T * w_d / n_d`` (the binding domain
    keeps everything; the rest are hash-downsampled). Domains absent
    from ``targets`` are dropped. A target domain with NO rows in the
    data makes exact global proportions infeasible — it is simply
    missing from the output, and the PRESENT domains still resample to
    their pairwise target ratios (T is the min over present domains).

    Plan shape: one map-side-combined count per domain (a handful of
    rows), a scalar min over that tiny frame, a broadcast join of the
    per-domain rate back onto the fact table, then the map-only hash
    filter — no full-table shuffle, no driver collect.
    """
    total = sum(targets.values())
    if not targets or not 0.999 <= total <= 1.001:
        raise ValueError(f"targets must sum to 1 (got {total})")
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    w = F.create_map(
        *[x for s, r in targets.items() for x in (F.lit(s), F.lit(float(r)))]
    )
    counts = (
        df.where(F.col(domain_col).isin(list(targets)))
        .groupBy(domain_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_w", F.element_at(w, F.col(domain_col)))
    )
    # T = min(n_d / w_d): a window over the counts frame only — it has
    # one row per domain, so the single partition is bounded by the
    # (small, user-supplied) target dict, never by data volume.
    t = F.min(F.col("_n") / F.col("_w")).over(Window.partitionBy())
    rates = counts.withColumn(
        "_rate", F.least(F.lit(1.0), t * F.col("_w") / F.col("_n"))
    ).select(domain_col, "_rate")
    h = _hash_u32(keys, salt)
    return (
        df.join(F.broadcast(rates), on=domain_col, how="inner")
        .where(h < (F.col("_rate") * F.lit(_U32)).cast("long"))
        .drop("_rate")
    )


def hash_split(
    df: DataFrame,
    key_cols: str | Sequence[str],
    weights: dict[str, float],
    out: str = "split",
    salt: str = "",
) -> DataFrame:
    """Assign every row a deterministic split label by key.

    ``weights``: label → fraction (must sum to ~1; the LAST label
    absorbs the remainder so rounding never drops a row). Insertion
    order fixes the cumulative boundaries — keep it stable across runs.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"weights must sum to 1 (got {total})")
    h = _hash_u32(keys, salt)
    labels = list(weights)
    expr: Column | None = None
    acc = 0.0
    for label in labels[:-1]:
        acc += weights[label]
        cond = h < int(acc * _U32)
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    last = F.lit(labels[-1])
    return df.withColumn(out, last if expr is None else expr.otherwise(last))
