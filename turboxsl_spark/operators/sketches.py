"""Deterministic, engine-portable sketches: KMV distinct-count and a
Bloom membership filter.

KMV (k-minimum-values) distinct-count sketch.

The deterministic sketch family: hash every key with the engine's
pure md5 function (``sampling._hash_u32`` — the same hash the
sampling operators use), keep the k SMALLEST distinct hash values per
group, and estimate distinct counts as ``(k-1) * 2^32 / h_(k)`` from
the k-th order statistic (Bar-Yossef et al. 2002). Because the hash
is a pure function, the summary and the estimate are REPRODUCIBLE in
any engine — the DuckDB oracle computes the identical numbers — and
two sketches merge by taking the k smallest of the union (used for
partition-parallel construction below; the same property serves
cross-day rollups).

Contrast with ``approx_count_distinct`` (HLL++): Spark's built-in is
the right default for one-shot counting; this sketch is the
ENGINE-PORTABLE, mergeable complement whose summary you can store
next to the data and re-verify anywhere.

Scale shape: one distinct on (group, hash) — volume bounded by the
number of distinct identities — then a per-(group, partition) prune
to k rows BEFORE the per-group order statistic, so no single task
ever sorts more than k·P rows of one group (never the group's full
distinct set). Groups with fewer than k distinct hashes report the
EXACT count (the sketch is lossless below k).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from turboxsl_spark.operators.sampling import _hash_u32, _key_digest_sql

_U32 = float(1 << 32)


def kmv_distinct(
    df: DataFrame,
    group_cols: str | Sequence[str],
    key_cols: str | Sequence[str],
    k: int = 256,
    salt: str = "",
) -> DataFrame:
    """Per-group distinct-count estimate from a k-minimum-values sketch.

    Returns one row per group: ``(…group_cols, n_kept long,
    kth_hash long, distinct_est double)``. ``n_kept`` < k means the
    group's distinct count is exact (= n_kept); otherwise
    ``distinct_est = (k-1)·2^32 / kth_hash`` with relative error
    ~ 1/sqrt(k-2).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    numer = float((k - 1) << 32)  # exact in double for any sane k

    dh = df.select(*groups, _hash_u32(keys, salt).alias("_h")).distinct()
    # phase 1: prune to k per (group, physical partition) — min-k is
    # mergeable, so batch-local pruning loses nothing and caps the
    # per-group row count entering the global order statistic at k·P
    pruned = (
        dh.withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_rn", F.row_number().over(Window.partitionBy(*groups, "_pid").orderBy("_h"))
        )
        .where(F.col("_rn") <= k)
        .drop("_pid", "_rn")
    )
    # phase 2: global k smallest per group over the bounded partials
    kept = pruned.withColumn(
        "_rn", F.row_number().over(Window.partitionBy(*groups).orderBy("_h"))
    ).where(F.col("_rn") <= k)
    est: Column = F.when(
        F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double")
    ).otherwise(F.lit(numer) / F.max("_h"))
    return kept.groupBy(*groups).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.max("_h").cast("long").alias("kth_hash"),
        est.alias("distinct_est"),
    )


# ---------------------------------------------------------------------------
# Bloom membership filter
# ---------------------------------------------------------------------------
#
# The mergeable MEMBERSHIP complement of KMV: at 100 TB a broadcast
# distinct-key set (as `decontaminate` uses for its benchmark side)
# stops fitting executor memory long before the corpus does; a Bloom
# filter of the same set is a fixed m-bit summary with a tunable false
# positive rate (~(1 - e^{-k*n/m})^k) and NO false negatives. Two
# filters over the same (m, k, salt) merge by bitwise OR — cross-day /
# cross-shard rollups compose exactly like the KMV min-k union.
#
# Engine-portable by the same rule as everything in this family: bit
# positions derive from md5 double hashing (h1 + j*h2 mod m, h1/h2 =
# the two 48-bit halves of the key digest — the minhash md5-twin
# recipe), so ANY engine reproduces the filter bit-for-bit; the DuckDB
# oracle replays build AND probe, INCLUDING the false positives.
# Words are 32-bit (stored in longs): `1 << (pos % 32)` stays far from
# the sign bit, so the shift is portable (DuckDB raises on a 1<<63
# BIGINT overflow; Spark wraps — 32-bit words sidestep both).

BLOOM_WORD_BITS = 32


def _int_array(values: list) -> Column:
    """``F.lit(values)`` for a list (of lists) of ints, as ONE JVM-parsed
    ``array(...)`` expression: ``F.lit`` of a list costs one Py4J call
    per element. A SQL integer literal is an int when it fits int32 and
    a bigint otherwise, as a Py4J-passed int is, so the element types
    are ``F.lit``'s."""

    def sql(v) -> str:
        return f"array({', '.join(map(sql, v))})" if isinstance(v, list) else str(v)

    return F.expr(sql(values))


def _bit_mask(pos: Column) -> Column:
    """``1 << (pos % 32)`` as a long. ``F.shiftleft`` takes only a
    Python-int shift, so the column form goes through ``pow(2, b)`` —
    exact in a double for b < 32 (well under the 2^53 mantissa)."""
    return F.pow(F.lit(2.0), (pos % BLOOM_WORD_BITS).cast("double")).cast("long")


def _double_hash(key_cols: Sequence[str], n: int, k: int, salt: str) -> Column:
    """``array<long>`` of pos_j = (h1 + j*h2) mod n for j < k, h1/h2 the
    two 48-bit halves of the key digest (``sampling._key_digest_sql``,
    the injective tuple hashing), as one JVM-parsed expression."""
    digest = _key_digest_sql(key_cols, salt)
    h1, h2 = (f"CAST(conv(substring({digest}, {i}, 12), 16, 10) AS BIGINT)" for i in (1, 13))
    # the lambda variable is longer than any key name, so it shadows none
    j = "j" * (1 + max(map(len, key_cols), default=0))
    pos = f"({h1} + CAST({j} AS BIGINT) * {h2}) % {n}"
    return F.expr(f"transform(sequence(0, {k - 1}), {j} -> {pos})")


def bloom_positions(key_cols: Sequence[str], m: int, k: int, salt: str = "") -> Column:
    """``array<long>`` of the key's k bit positions in an m-bit filter:
    pos_j = (h1 + j*h2) mod m (enhanced double hashing stays unbiased
    for k << 2^48). Max intermediate is h1 + (k-1)*h2 < (k)·2^48 —
    overflow-free in a long for any sane k (< 32767)."""
    return _double_hash(key_cols, m, k, salt)


def _validate_mk(m: int, k: int) -> None:
    if m < BLOOM_WORD_BITS or m % BLOOM_WORD_BITS:
        raise ValueError(f"m must be a positive multiple of {BLOOM_WORD_BITS}, got {m}")
    if not 1 <= k < 1024:
        raise ValueError(f"k must be in [1, 1024), got {k}")


def bloom_build_df(
    df: DataFrame,
    key_cols: str | Sequence[str],
    m: int,
    k: int = 4,
    salt: str = "",
) -> DataFrame:
    """Distributed Bloom build → SPARSE word table ``(word int,
    bits long)`` (32 bits used per word), one row per non-zero word.

    Scale shape: k exploded rows per input row, then ONE map-side-
    combined ``bit_or`` aggregation on the word index — ≤ m/32 output
    rows regardless of input size. This is the build to use when the
    filter itself is big (large m) or when composing filters without a
    driver round-trip (union the inputs, or bit_or two sparse tables).
    """
    _validate_mk(m, k)
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    pos = df.select(
        F.explode(bloom_positions(keys, m, k, salt)).alias("_pos")
    )
    return (
        pos.select(
            (F.col("_pos") / BLOOM_WORD_BITS).cast("int").alias("word"),
            _bit_mask(F.col("_pos")).alias("_mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("_mask").alias("bits"))
    )


def bloom_build(
    df: DataFrame,
    key_cols: str | Sequence[str],
    m: int,
    k: int = 4,
    salt: str = "",
) -> list[int]:
    """Distributed Bloom build → DENSE driver-side word list of length
    m/32 (the collect is bounded by m — a filter PARAMETER, never the
    data). Feed to ``bloom_probe`` for the map-only probe."""
    sparse = bloom_build_df(df, key_cols, m, k, salt).collect()
    words = [0] * (m // BLOOM_WORD_BITS)
    for r in sparse:
        words[r["word"]] = r["bits"]
    return words


def bloom_merge(a: list[int], b: list[int]) -> list[int]:
    """OR-merge two dense filters built with identical (m, k, salt)."""
    if len(a) != len(b):
        raise ValueError(f"word counts differ: {len(a)} vs {len(b)}")
    return [x | y for x, y in zip(a, b)]


def bloom_probe(
    df: DataFrame,
    words: list[int],
    key_cols: str | Sequence[str],
    k: int = 4,
    salt: str = "",
    out: str = "bloom_hit",
) -> DataFrame:
    """MAP-ONLY membership probe against a dense filter: the word list
    becomes ONE plan-time array literal (m/32 longs — fine up to a few
    million bits; beyond that use ``bloom_probe_join``), each of the
    key's k bits is tested with element_at + bitwise AND, zero
    shuffles, zero Python. No false negatives; false positives are a
    deterministic function of (keys, m, k, salt) — the DuckDB oracle
    reproduces them exactly."""
    m = len(words) * BLOOM_WORD_BITS
    _validate_mk(m, k)
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    lit = _int_array([int(w) for w in words])
    pos = bloom_positions(keys, m, k, salt)
    hit = F.forall(
        pos,
        lambda p: F.element_at(
            lit, (p / BLOOM_WORD_BITS).cast("int") + 1
        ).bitwiseAND(_bit_mask(p))
        != 0,
    )
    return df.withColumn(out, hit)


def bloom_probe_join(
    df: DataFrame,
    bloom_df: DataFrame,
    key_cols: str | Sequence[str],
    m: int,
    k: int = 4,
    salt: str = "",
    out: str = "bloom_hit",
) -> DataFrame:
    """Membership probe against the SPARSE word table — the large-m
    scale path (a 2^30-bit filter is 32 MB dense: too big for a plan
    literal, trivial for a broadcast join). Per distinct key tuple:
    explode its k positions, broadcast-join the word table, a key is a
    hit iff EVERY position's word exists and has the bit set
    (``bool_and``); membership then joins back onto the rows by key.
    Two bounded shuffles (distinct keys, k-row-per-key agg) + one
    broadcast; falls back to a shuffled join automatically if Spark
    deems the word table too big to broadcast."""
    _validate_mk(m, k)
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    kdf = df.select(*keys).distinct()
    pos = kdf.select(
        *keys, F.explode(bloom_positions(keys, m, k, salt)).alias("_pos")
    ).select(
        *keys,
        (F.col("_pos") / BLOOM_WORD_BITS).cast("int").alias("word"),
        _bit_mask(F.col("_pos")).alias("_mask"),
    )
    joined = pos.join(F.broadcast(bloom_df), "word", "left")
    per_key = joined.groupBy(*keys).agg(
        F.every(
            F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("_mask")) != 0
        ).alias(out)
    )
    # NULL-SAFE join back: the probe hashes NULL keys via the sentinel
    # (same as map-only bloom_probe), so the membership row for a NULL
    # key must reach NULL-key input rows — plain equality would drop it
    # and leave those rows with a NULL probe result (ADVICE r05)
    cond = None
    for kcol in keys:
        c = df[kcol].eqNullSafe(per_key[kcol])
        cond = c if cond is None else (cond & c)
    return df.join(per_key, cond, "left").drop(*[per_key[kcol] for kcol in keys])


# ---------------------------------------------------------------------------
# Count-Min frequency sketch
# ---------------------------------------------------------------------------
#
# The FREQUENCY member of the sketch family (KMV = distinct counts,
# Bloom = membership, CM = occurrence counts): d rows of w counters;
# every key occurrence increments counter (j, (h1 + j*h2) mod w) in
# each row j; the estimate is the MIN over rows. Estimates never
# undercount; they overcount by at most eps*N (eps ~ e/w) with
# probability 1 - delta (delta ~ e^-d) — Cormode & Muthukrishnan 2005.
# Merging = elementwise counter ADDITION, so shards/days compose like
# the other sketches. Same md5 double hashing → any engine reproduces
# every counter and every estimate exactly.


def cm_positions(key_cols: Sequence[str], w: int, d: int, salt: str = "") -> Column:
    """``array<long>`` of the key's column index in each of the d rows:
    idx_j = (h1 + j*h2) mod w (the Bloom/minhash double-hash family)."""
    return _double_hash(key_cols, w, d, salt)


def _validate_wd(w: int, d: int) -> None:
    if w < 1:
        raise ValueError(f"w must be positive, got {w}")
    if not 1 <= d < 64:
        raise ValueError(f"d must be in [1, 64), got {d}")


def cm_build_df(
    df: DataFrame,
    key_cols: str | Sequence[str],
    w: int,
    d: int = 4,
    salt: str = "",
    weight_col: str | None = None,
) -> DataFrame:
    """Distributed Count-Min build → SPARSE counter table ``(row int,
    idx int, cnt long)``, one row per non-zero counter (≤ w·d rows
    regardless of input size).

    Without ``weight_col`` each input ROW is one occurrence (d exploded
    rows per occurrence, ONE map-side-combined count aggregation).
    With ``weight_col`` each row contributes that many occurrences —
    the PRE-AGGREGATED build: when the caller already holds
    (key, count), sketching the counts explodes only |distinct keys|·d
    rows instead of |occurrences|·d, the right shape when the exact
    per-key rollup is being computed anyway. Both forms produce the
    IDENTICAL sketch. Merge two sketches over the same (w, d, salt) by
    unioning the sparse tables and summing ``cnt``."""
    _validate_wd(w, d)
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    pos = df.select(
        F.posexplode(cm_positions(keys, w, d, salt)).alias("row", "_idx"),
        *( [F.col(weight_col).alias("_w")] if weight_col else [] ),
    )
    agg = F.sum("_w").cast("long") if weight_col else F.count(F.lit(1))
    return (
        pos.groupBy(F.col("row").cast("int").alias("row"), F.col("_idx").cast("int").alias("idx"))
        .agg(agg.alias("cnt"))
    )


def cm_build(
    df: DataFrame,
    key_cols: str | Sequence[str],
    w: int,
    d: int = 4,
    salt: str = "",
    weight_col: str | None = None,
) -> list[list[int]]:
    """Distributed build → DENSE d×w counter matrix on the driver (the
    collect is bounded by w·d — sketch PARAMETERS, never the data)."""
    sparse = cm_build_df(df, key_cols, w, d, salt, weight_col).collect()
    counters = [[0] * w for _ in range(d)]
    for r in sparse:
        counters[r["row"]][r["idx"]] = r["cnt"]
    return counters


def cm_merge(a: list[list[int]], b: list[list[int]]) -> list[list[int]]:
    """Elementwise-sum merge of two dense sketches with identical
    (w, d, salt)."""
    if len(a) != len(b) or any(len(x) != len(y) for x, y in zip(a, b)):
        raise ValueError("sketch shapes differ")
    return [[x + y for x, y in zip(ra, rb)] for ra, rb in zip(a, b)]


def cm_estimate(
    df: DataFrame,
    counters: list[list[int]],
    key_cols: str | Sequence[str],
    salt: str = "",
    out: str = "cm_est",
) -> DataFrame:
    """MAP-ONLY frequency estimate against a dense sketch: the d×w
    matrix becomes one plan-time array-of-array literal, the estimate
    is ``array_min`` over the d looked-up counters — zero shuffles,
    zero Python. Never underestimates the true occurrence count."""
    d = len(counters)
    w = len(counters[0]) if d else 0
    _validate_wd(w, d)
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    lit = _int_array([[int(c) for c in row] for row in counters])
    pos = cm_positions(keys, w, d, salt)
    ests = F.transform(
        pos,
        lambda p, j: F.element_at(F.element_at(lit, j.cast("int") + 1), p.cast("int") + 1),
    )
    return df.withColumn(out, F.array_min(ests).cast("long"))
