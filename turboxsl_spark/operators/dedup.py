"""Document deduplication — exact and near-dup, Spark-first.

The training-data-pipeline operators (task brief): exact hash dedup,
MinHash+LSH, SimHash, n-gram Jaccard verification, embedding-cosine
near-dup. Everything except SimHash bit-voting stays JVM-side
(xxhash64 + higher-order array functions); SimHash uses a vectorized
numpy pandas-UDF because 64-bit bit-voting has no array-function
equivalent that stays readable.

Scale notes:
- shingling/minhash are per-row map work — no shuffle, fully parallel;
- LSH banding shuffles once on (band, band_hash) — candidate pairs are
  generated per bucket, so the blowup is bounded by bucket size, not n²;
- the Jaccard verify runs only on candidate pairs.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .rank import SCRATCH_CONF


def _reliable_checkpoint(df: DataFrame, optional: bool = False) -> DataFrame:
    """Truncate lineage in a way that survives executor loss.

    Under ``local[*]`` the executors ARE the driver process, so
    ``localCheckpoint()`` (in-memory, executor-local) is both safe and
    the fastest option. On any other master an executor-local checkpoint
    is a fault-tolerance hole: losing one executor mid-loop discards
    blocks whose lineage was just truncated and kills the whole job —
    so there we use a RELIABLE ``checkpoint()`` into the cluster-visible
    scratch dir (``spark.turboxsl.scratchDir``, same conf as
    ``global_rank``), wiring ``sparkContext.setCheckpointDir`` on first
    use. No conf on a cluster → raise at plan time rather than silently
    truncating lineage against volatile storage (``optional``: return
    ``df`` unmaterialized instead).
    """
    spark = df.sparkSession
    master = spark.conf.get("spark.master", "")
    # plain local[...] only: 'local-cluster[...]' runs executors in
    # separate JVMs, where an executor-local checkpoint has exactly the
    # fault-tolerance hole this function exists to close (ADVICE r05)
    if re.match(r"local(\[|$)", master):
        return df.localCheckpoint()
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        base = spark.conf.get(SCRATCH_CONF, None)
        if not base:
            if optional:
                return df
            raise ValueError(
                f"duplicate_components checkpoint on master {master!r}: "
                f"localCheckpoint is not fault-tolerant off local[*] — set "
                f"{SCRATCH_CONF} to a cluster-visible path (HDFS/S3/NFS) "
                f"or call sparkContext.setCheckpointDir yourself"
            )
        sc.setCheckpointDir(f"{base.rstrip('/')}/cc_checkpoints")
    return df.checkpoint()


def _checkpoint_if_possible(df: DataFrame) -> DataFrame:
    """Best-effort eager materialization: ``_reliable_checkpoint``, but
    FALLS BACK to the unmaterialized lineage (recompute per consumer)
    when no cluster-visible scratch is configured, instead of raising —
    for callers where materialization is a pure optimization (compute an
    expensive projection once) rather than a correctness need (lineage
    truncation in an iterative loop)."""
    return _reliable_checkpoint(df, optional=True)


def tokenize(c: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization after normalize-space."""
    c = F.col(c) if isinstance(c, str) else c
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    if lowercase:
        c = F.lower(c)
    return F.when(F.length(c) == 0, F.array().cast("array<string>")).otherwise(
        F.split(c, " ")
    )


def shingles(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles via sequence+transform — JVM-side sliding window.

    Zero tokens → empty array (an empty document has NO shingles, so
    downstream min-hashing hits its explicit sentinel path instead of
    sharing an accidental hash-of-empty-string shingle)."""
    return (
        F.when(F.size(tokens) == 0, F.array().cast("array<string>"))
        .when(
            F.size(tokens) < n,
            # short docs: the whole token string is the single shingle
            F.array(F.concat_ws(" ", tokens)),
        )
        .otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
            )
        )
    )


def shingle_hashes(tokens: Column, n: int = 3) -> Column:
    """64-bit hashes of word n-gram shingles WITHOUT building the shingle
    strings: multi-arg xxhash64 over the n tokens at each position.

    Higher-order functions run interpreted (no codegen/CSE), so string
    assembly per shingle is the dominant cost of the naive version —
    hashing token tuples directly is ~10x cheaper and equally valid as
    a shingle identity (collisions are negligible at 64 bits).
    Zero tokens → empty array (mirrors ``shingles``).
    """

    def gram(i: Column) -> Column:
        return F.xxhash64(*[F.element_at(tokens, i + j) for j in range(n)])

    return (
        F.when(F.size(tokens) == 0, F.array().cast("array<bigint>"))
        .when(F.size(tokens) < n, F.array(F.xxhash64(F.concat_ws(" ", tokens))))
        .otherwise(F.transform(F.sequence(F.lit(1), F.size(tokens) - (n - 1)), gram))
    )


# ---------------------------------------------------------------------
# Engine-portable md5 hash family ("md5 twins").
#
# Every hash below derives from md5 hex digests, so ANY engine that can
# md5 — the DuckDB correctness oracle, pandas, a future engine port —
# reproduces signatures, LSH buckets, and fingerprints BIT-EXACTLY,
# which is what lets the driver's oracle gate check the full near-dup
# pipeline end-to-end instead of rows-only. The xxhash64 variants above
# stay the production fast path (multi-arg tuple hashing, no digest
# strings); the twins trade ~2-3x map-side hash cost for end-to-end
# oracle checkability — the SHAPE of the plan (explode → fused min
# aggs → banded equi-self-join → candidate-only verify → CC) is
# identical.
#
# MinHash slots use 48-bit enhanced double hashing (Kirsch &
# Mitzenmacher): slot_j(s) = (h1(s) + j*h2(s) + j**2) mod P48 with
# h1/h2 = the first/second 12 hex chars of md5(shingle). Unlike the
# affine-over-one-hash family the xxh path replaced (piecewise-
# monotone, slots correlated), h1 and h2 are INDEPENDENT 48-bit
# digests, so slots decorrelate; agreement tracks Jaccard within the
# same tolerance as the fully-mixing xxh family (property-tested in
# tests/test_dedup.py). Max slot value h1 + 63*h2 + 63**2 < 2**54
# stays inside BIGINT arithmetic in both engines — no overflow, no
# engine-specific wrap semantics.
P48 = (1 << 48) - 59  # largest prime below 2**48
_SIG_SENTINEL = (1 << 63) - 1


def _hex_long(digest: Column, start: int, n: int) -> Column:
    """Hex substring of a digest column → non-negative BIGINT (n <= 15
    keeps the value under 2**60, inside long range in any engine)."""
    return F.conv(F.substring(digest, start, n), 16, 10).cast("long")


def md5_hash60(c: Column | str) -> Column:
    """60-bit integer hash from the first 15 hex chars of md5 —
    DuckDB: ``CAST(('0x' || substr(md5(c), 1, 15)) AS UBIGINT)``."""
    c = F.col(c) if isinstance(c, str) else c
    return _hex_long(F.md5(c), 1, 15)


def minhash_signatures_md5(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    out: str = "minhash",
    id_col: str = "doc_id",
    attach: bool = True,
) -> DataFrame:
    """md5-twin of ``minhash_signatures`` (same plan shape: explode →
    k fused min aggregates, map-side partial combine; see the xxh
    docstring for the scale rationale).

    signature[j] = min over shingles s of (h1 + j*h2 + j*j) mod P48,
    h1/h2 = 12-hex-char halves of md5(shingle string). Docs with no
    shingles share the max-long sentinel signature (as in the xxh
    path). One md5 per shingle, k arithmetic slots derived from it —
    NOT k digests per shingle.
    """
    exploded = df.select(F.col(id_col), tokenize(text_col).alias("_toks")).select(
        F.col(id_col),
        F.explode_outer(shingles(F.col("_toks"), shingle_n)).alias("_s"),
    )
    d = F.md5(F.col("_s"))
    hashed = exploded.select(
        F.col(id_col),
        _hex_long(d, 1, 12).alias("_h1"),
        _hex_long(d, 13, 12).alias("_h2"),
    )
    # NULL shingle (explode_outer of an empty doc) → NULL h1/h2 → NULL
    # slot → min skips it → COALESCE sentinel, exactly as the xxh path.
    # The k agg/array expressions are JVM-parsed SQL strings: building
    # 64 Column-API trees cost ~1.2s of driver time per call (guide §1
    # — construction is charged to the query by the bench timer).
    aggs = [
        F.expr(f"min((_h1 + {j}L * _h2 + {j * j}L) % {P48}L)").alias(f"_m{j}")
        for j in range(num_hashes)
    ]
    sig = F.expr(
        "array("
        + ", ".join(
            f"coalesce(_m{j}, {_SIG_SENTINEL}L)" for j in range(num_hashes)
        )
        + ")"
    )
    sig_rows = hashed.groupBy(id_col).agg(*aggs).select(F.col(id_col), sig.alias(out))
    if not attach:
        # (id, signature) only — the LSH banding path needs nothing
        # else, and the join back onto ``df`` is a whole extra join
        # whose payload the banding immediately projects away
        return sig_rows
    return df.join(sig_rows, id_col)


def minhash_dedup_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    cc_max_rounds: int = 16,
) -> DataFrame:
    """md5-twin of ``minhash_dedup`` — the variant the driver's DuckDB
    oracle replays end-to-end (signatures, band buckets, Jaccard
    verify, transitive-closure components, min-id representative).

    The candidate pairs are materialized (best-effort checkpoint) so
    the verify stage can shingle ONLY candidate docs — see
    ``ngram_jaccard(prefilter=True)``."""
    sigs = minhash_signatures_md5(
        df, text_col, num_hashes, shingle_n, id_col=id_col, attach=False
    )
    pairs = _checkpoint_if_possible(
        lsh_candidate_pairs(
            sigs, id_col, "minhash", bands, num_hashes // bands, hasher="md5"
        )
    )
    dupes = ngram_jaccard(
        pairs, df, id_col, text_col, shingle_n, hasher="md5", prefilter=True
    ).where(F.col("jaccard") >= threshold)
    comp = duplicate_components(dupes, max_rounds=cc_max_rounds)
    losers = comp.where(F.col("rep") < F.col("node")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def simhash_md5(df: DataFrame, text_col: str = "text", out: str = "simhash") -> DataFrame:
    """md5-twin of ``simhash_xxh``: 60-bit SimHash (bits 60-63 always
    zero) over md5-derived token hashes; same vectorized numpy
    bit-vote. The DuckDB oracle restates the vote as 60 conditional
    SUMs per doc — bit-exact."""
    df = df.withColumn("_sh_toks", tokenize(text_col))
    hashes = F.transform(F.col("_sh_toks"), lambda t: md5_hash60(t))
    return df.withColumn(out, _bitvote_udf(hashes)).drop("_sh_toks")


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Keep one representative (min id) per identical normalized text.

    Hash-groupBy: one shuffle on the md5; Catalyst does partial
    aggregation map-side.
    """
    c = F.col(text_col)
    if normalize:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    h = F.md5(c)
    w = Window.partitionBy("_h").orderBy(id_col)
    return (
        df.withColumn("_h", h)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
    out: str = "minhash",
    id_col: str = "doc_id",
    attach: bool = True,
) -> DataFrame:
    """k-permutation MinHash over word shingles, all JVM-side.

    signature[i] = min over shingles s of xxhash64(h(s), seed+i)

    Re-hashing with the slot index as a second xxhash64 argument gives
    a fully-mixing minwise family. (A linear-congruential family
    (a*h+b) mod M over 31-bit inputs wraps the modulus at most once —
    piecewise-monotone, slots correlate, and real shingle sets showed
    agreement far below the Jaccard expectation.)

    Physical shape: EXPLODE the shingle hashes to narrow (id, hash)
    rows, one hash-aggregate with k fused min() expressions — all
    inside whole-stage codegen — then join the signature back on id.
    (Array-lambda variants run interpreted, with no common-subexpression
    elimination, and profiled ~10x slower.) The exploded exchange
    carries two longs per shingle and partial min() combines map-side,
    so the shuffle stays tiny even when documents are megabytes.
    Docs with no shingles (empty/whitespace text) share the max-long
    sentinel signature, so ALL empty docs collapse into one
    representative downstream — intended dedup semantics.
    """
    # tokenize ONCE into a bound column: expressions inlined into an
    # interpreted lambda re-evaluate per element access (the regex split
    # would otherwise run 3x per shingle — profiled 6x slower)
    exploded = (
        df.select(F.col(id_col), tokenize(text_col).alias("_toks"))
        .select(
            F.col(id_col),
            F.explode_outer(shingle_hashes(F.col("_toks"), shingle_n)).alias("_h"),
        )
    )
    # xxhash64 silently skips NULL args (never returns NULL), so the
    # no-shingle row from explode_outer must be masked explicitly or
    # empty/NULL docs would get a real-looking signature of hash(seed).
    # JVM-parsed SQL strings for the k aggs — see the md5 twin for the
    # construction-cost rationale. CAST pins the seed literal to INT,
    # the type F.lit(seed + i) produced (xxhash64 is type-sensitive).
    def _seed_lit(v: int) -> str:
        # match F.lit's type choice: INT when it fits, else BIGINT
        return f"CAST({v} AS INT)" if -(2**31) <= v < 2**31 else f"{v}L"

    aggs = [
        F.expr(
            "min(CASE WHEN _h IS NOT NULL "
            f"THEN xxhash64(_h, {_seed_lit(seed + i)}) END)"
        ).alias(f"_m{i}")
        for i in range(num_hashes)
    ]
    sentinel = (1 << 63) - 1
    sig = F.expr(
        "array("
        + ", ".join(f"coalesce(_m{i}, {sentinel}L)" for i in range(num_hashes))
        + ")"
    )
    sig_rows = (
        exploded.groupBy(id_col).agg(*aggs).select(F.col(id_col), sig.alias(out))
    )
    if not attach:
        return sig_rows  # see the md5 twin: banding needs (id, sig) only
    return df.join(sig_rows, id_col)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 16,
    rows_per_band: int = 4,
    hasher: str = "xxh64",
) -> DataFrame:
    """Band the signatures, bucket-join within (band, bucket_hash).

    Returns distinct candidate pairs (id_a < id_b). The self-join is an
    equi-join on the bucket key — a single shuffle, no n² blowup.

    ``hasher="md5"`` buckets on md5 of the comma-joined band slice
    (engine-portable: DuckDB ``md5(array_to_string(list_slice(...)))``)
    instead of the faster JVM array xxhash64.

    The banded explode is ONE JVM-parsed SQL expression (identical
    tree to the per-band Column-API build; construction cost — see
    ``minhash_signatures_md5``).
    """
    from turboxsl_spark.operators.similarity import _sql_ident

    sc = _sql_ident(sig_col)

    def bucket_sql(b: int) -> str:
        sl = f"slice({sc}, {b * rows_per_band + 1}, {rows_per_band})"
        if hasher == "md5":
            return f"md5(concat_ws(',', CAST({sl} AS ARRAY<STRING>)))"
        return f"xxhash64({sl})"

    bb = F.expr(
        "explode(array("
        + ", ".join(
            f"struct({b} AS band, {bucket_sql(b)} AS bucket)"
            for b in range(bands)
        )
        + "))"
    )
    banded = df.select(F.col(id_col).alias("_id"), bb.alias("bb")).select(
        "_id", "bb.band", "bb.bucket"
    )
    # MERGE hint so the self-join's two (identical) sides share ONE
    # exchange via AQE ReusedExchange instead of a broadcast build
    # recomputing the whole signature pipeline — see
    # embedding_near_dup_pairs for the measurement.
    l = banded.alias("l").hint("merge")
    r = banded.alias("r")
    return (
        l.join(r, ["band", "bucket"])
        .where(F.col("l._id") < F.col("r._id"))
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )


def ngram_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    hasher: str = "xxh64",
    prefilter: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (the verify stage).

    Computed over 64-bit shingle hashes (no shingle strings built, long
    arrays intersect ~10x faster; 64-bit collisions are negligible).
    ``hasher="md5"`` uses md5-hex shingle identities instead — the
    engine-portable twin the DuckDB oracle reproduces; same Jaccard
    (identity sets are identical up to vanishing digest collisions).

    ``prefilter=True`` semi-joins ``docs`` to the ids appearing in
    ``pairs`` BEFORE tokenizing/shingling, so the (interpreted,
    per-shingle) identity arrays are built only for candidate docs —
    at corpus scale the candidate set is orders of magnitude smaller
    than the corpus, and without the prefilter this stage shingles the
    WHOLE corpus twice just to discard non-candidates in the join.
    Only enable it when ``pairs`` is materialized (checkpointed): the
    id scan adds two more consumers of the ``pairs`` plan, which would
    otherwise re-run the full LSH pipeline per consumer."""
    if prefilter:
        ids = (
            pairs.select(F.col("id_a").alias("_jid"))
            .unionByName(pairs.select(F.col("id_b").alias("_jid")))
            .distinct()
        )
        # no broadcast hint: AQE broadcasts the id set when it is small
        # and falls back to a shuffled semi-join when it is not
        docs = docs.join(ids, docs[id_col] == ids["_jid"], "left_semi")
    if hasher == "md5":
        ident = F.transform(
            shingles(F.col("_toks"), shingle_n), lambda s: F.md5(s)
        )
        empty = F.array().cast("array<string>")
    else:
        ident = shingle_hashes(F.col("_toks"), shingle_n)
        empty = F.array().cast("array<bigint>")
    sh = docs.select(
        F.col(id_col).alias("_jid"), tokenize(text_col).alias("_toks")
    ).select(
        "_jid",
        # NULL text → NULL token array → NULL shingle set, which would
        # make the Jaccard NULL and silently exempt NULL-text docs from
        # dedup; coalesce to the EMPTY set instead, so contentless docs
        # (NULL or empty) compare as jaccard 1.0 — consistent with the
        # signature stage, where they share the sentinel signature
        F.coalesce(F.array_distinct(ident), empty).alias("_sh"),
    )
    out = (
        pairs.join(sh.withColumnRenamed("_jid", "id_a").withColumnRenamed("_sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("_jid", "id_b").withColumnRenamed("_sh", "sh_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.when(F.col("uni") == 0, F.lit(1.0)).otherwise(
                F.col("inter").cast("double") / F.col("uni")
            ),
        )
    )
    return out.select("id_a", "id_b", "jaccard")


def duplicate_components(dupes: DataFrame, max_rounds: int = 16) -> DataFrame:
    """Collapse verified duplicate PAIRS into connected components:
    every node ends up labeled with its component's MIN id.

    Each round does (1) neighbor-min label propagation
    ``rep(x) ← min(rep(x), min over edges (x,y) of rep(y))`` — the step
    that carries the min label across "valleys" where plain
    pointer-jumping stalls (edges 5–3, 3–8, 8–1 have pointer fixpoint
    {3,5},{1,8} but one true component) — and (2) a pointer-jump
    ``rep(x) ← min(rep(x), rep(rep(x)))`` that doubles propagation
    distance, so convergence is O(log diameter) rounds.

    The loop is data-driven: each round is two self-joins on a (node,
    rep) long table, checkpointed to truncate lineage (executor-local
    under ``local[*]``, RELIABLE into ``spark.turboxsl.scratchDir`` on
    a cluster — see ``_reliable_checkpoint``), and stops at the
    fixpoint detected by a cheap changed-row probe.
    ``max_rounds`` (default 16 → diameter ≤ 2^16) is a runaway bound,
    not a correctness knob.

    Returns (node, rep) for every node that belongs to a component,
    rep < node for non-representatives.
    """
    edges = dupes.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    und = _reliable_checkpoint(
        edges.unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
    )
    rep = und.groupBy("a").agg(F.min("b").alias("_mn")).select(
        F.col("a").alias("node"), F.least("_mn", "a").alias("rep")
    )
    for _ in range(max_rounds):
        # (1) propagate each neighbor's current label along edges
        r_b = rep.select(F.col("node").alias("b"), F.col("rep").alias("_rb"))
        nbr = und.join(r_b, "b").groupBy("a").agg(F.min("_rb").alias("_nb"))
        stepped = rep.join(
            nbr.withColumnRenamed("a", "node"), "node", "left"
        ).select(
            "node",
            F.least("rep", F.coalesce("_nb", "rep")).alias("rep"),
            F.col("rep").alias("_old"),
        )
        # (2) pointer-jump through the (tiny) label table; the PREVIOUS
        # round's label rides along so the fixpoint probe below is a
        # filter over this checkpoint, not a join back to the old table
        # (the probe join was a measured ~0.3s/round at sf0.1)
        r2 = stepped.select(F.col("node").alias("_n2"), F.col("rep").alias("_r2"))
        jumped = _reliable_checkpoint(
            stepped.join(r2, stepped.rep == r2._n2, "left")
            .select(
                "node",
                F.least("rep", F.coalesce("_r2", "rep")).alias("rep"),
                "_old",
            )
        )
        changed = jumped.where(F.col("rep") != F.col("_old")).limit(1).count()
        rep = jumped.drop("_old")
        if changed == 0:
            break
    return rep


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    cc_max_rounds: int = 16,
) -> DataFrame:
    """Full near-dup pipeline: sign → LSH buckets → Jaccard verify →
    connected components (label-prop + pointer-jump to fixpoint) →
    keep the min-id representative of each component. Candidate pairs
    are materialized so the verify shingles only candidate docs
    (``ngram_jaccard(prefilter=True)``)."""
    sigs = minhash_signatures(
        df, text_col, num_hashes, shingle_n, id_col=id_col, attach=False
    )
    pairs = _checkpoint_if_possible(
        lsh_candidate_pairs(sigs, id_col, "minhash", bands, num_hashes // bands)
    )
    dupes = ngram_jaccard(pairs, df, id_col, text_col, prefilter=True).where(
        F.col("jaccard") >= threshold
    )
    comp = duplicate_components(dupes, max_rounds=cc_max_rounds)
    losers = comp.where(F.col("rep") < F.col("node")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


_SIMHASH_SCHEMA = T.LongType()


@F.pandas_udf(_SIMHASH_SCHEMA)
def _bitvote_udf(token_hashes: pd.Series) -> pd.Series:
    out = np.zeros(len(token_hashes), dtype=np.int64)
    for i, hs in enumerate(token_hashes):
        if hs is None or len(hs) == 0:
            continue
        arr = np.asarray(hs, dtype=np.int64)
        bits = ((arr[:, None].view(np.uint64) >> np.arange(64, dtype=np.uint64)[None, :]) & 1).astype(
            np.int64
        ) * 2 - 1
        votes = bits.sum(axis=0)
        sig = np.uint64(0)
        for b in np.nonzero(votes > 0)[0]:
            sig |= np.uint64(1) << np.uint64(b)
        out[i] = sig.astype(np.int64)
    return pd.Series(out)


def simhash_xxh(df: DataFrame, text_col: str = "text", out: str = "simhash") -> DataFrame:
    """Deterministic SimHash: JVM xxhash64 per token, numpy bit-voting.

    Tokens are materialized into a bound column first — an inlined
    tokenizer expression would re-run the regex split per element
    access inside the interpreted transform lambda."""
    df = df.withColumn("_sh_toks", tokenize(text_col))
    hashes = F.transform(F.col("_sh_toks"), lambda t: F.xxhash64(t))
    return df.withColumn(out, _bitvote_udf(hashes)).drop("_sh_toks")


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    nbits: int = 16,
    bands: int = 4,
    seed: int = 7,
    dim: int | None = None,
    max_bucket: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-dup via BANDED random-hyperplane LSH.

    The ``nbits`` sign signature is split into ``bands`` keys of
    ``nbits/bands`` bits; a pair becomes a candidate if ANY band
    matches, then exact cosine verifies. Banding (same OR-construction
    as MinHash LSH) fixes both failure modes of a single full-signature
    bucket: the recall cliff at high nbits (a 0.95-cosine pair flips
    one of 16 bits with p≈0.8) and the quadratic hot-bucket blowup at
    low nbits. With per-bit match prob p, candidate recall is
    1-(1-p^r)^b — e.g. cos 0.95, nbits=16, bands=4 → ~0.99.

    ``max_bucket`` hard-caps adversarial buckets (e.g. a degenerate
    all-identical region): (band, bucket) groups larger than the cap
    are excluded from the self-join, trading recall inside that bucket
    for a hard bound on join fan-out. The oversized keys are found with
    a ``groupBy(count)`` over just the two key columns and removed via
    a BROADCAST anti-join — the oversized set is tiny by construction
    (each key in it holds > max_bucket rows), so this never
    windows/materializes the exploded table the way a ``count() over
    (partition by band, bucket)`` would (that window is a full
    shuffle+sort of the exploded vectors; measured 1.5x slower at
    sf0.1).

    Construction cost note (guide §1, measured r06): the ``nbits``
    fold-dot signature is built as ONE JVM-parsed SQL expression when
    ``vec_col`` is a name (``random_hyperplane_bucket``) — the
    Column-API construction of 36 fold-dots cost ~1.5s of driver time
    per call, charged to the query by the bench's
    construction-inclusive timer. Two alternative plan shapes were
    measured and REJECTED this round (paired A/B, same session):
    checkpointing the signed base and attaching vectors to candidate
    pairs by id-keyed joins read 4.31s median vs 3.37s for this shape
    at sf0.1 — the extra materialization barrier and join stages cost
    more than the duplicated signature evaluation they remove at any
    scale where the exploded self-join's broadcast side stays
    broadcastable.

    Shuffles: one (band, bucket) count agg over two small columns, one
    co-partitioned self-join, one pair-dedup aggregation on candidates
    only.
    """
    from turboxsl_spark.operators.similarity import cosine, random_hyperplane_bucket

    if nbits % bands != 0:
        raise ValueError(f"nbits={nbits} must be divisible by bands={bands}")
    r = nbits // bands
    sig = random_hyperplane_bucket(vec_col, nbits=nbits, seed=seed, dim=dim)
    base = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), sig.alias("_sig")
    )
    banded = base.select(
        "_id",
        "_v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("_band"),
                        F.shiftright(F.col("_sig"), b * r)
                        .bitwiseAND(F.lit((1 << r) - 1))
                        .alias("_bkt"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "_v", F.col("bb._band").alias("_band"), F.col("bb._bkt").alias("_bkt"))
    oversized = (
        banded.groupBy("_band", "_bkt")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > max_bucket)
        .select("_band", "_bkt")
    )
    banded = banded.join(F.broadcast(oversized), ["_band", "_bkt"], "left_anti")
    # MERGE hint: a broadcast self-join materializes the banded stream
    # TWICE (stream side + broadcast build both recompute the fold-dot
    # signature); a shuffle-based join's two sides are the identical
    # exchange, which AQE computes ONCE (ReusedExchange) — measured
    # 2.95s -> 2.28s at sf0.1. Sort-merge over shuffled-hash: spills
    # gracefully at scale, and AQE still downgrades to a local
    # broadcast when a side is small.
    l, rr = banded.alias("l").hint("merge"), banded.alias("r")
    cand = (
        l.join(rr, ["_band", "_bkt"])
        .where(F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l._v").alias("_va"),
            F.col("r._v").alias("_vb"),
        )
        # a pair colliding in several bands must score ONCE
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.select(
        "id_a", "id_b", cosine(F.col("_va"), F.col("_vb")).alias("cos_sim")
    ).where(F.col("cos_sim") >= threshold)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 8,
    min_hits: int = 1,
    use_hashes: bool = True,
    broadcast_bench: bool = True,
    bloom_prefilter_m: int | None = None,
    bloom_prefilter_k: int = 4,
) -> DataFrame:
    """Flag training documents contaminated by an eval/benchmark set.

    Standard word-n-gram decontamination (the published recipe for LLM
    corpus builds): a document is contaminated when at least
    ``min_hits`` of its n-gram shingle OCCURRENCES appear anywhere in
    the benchmark's shingle set. Returns ``docs`` plus ``contam_hits``
    (long) and ``contaminated`` (boolean).

    Scale shape: the benchmark side reduces to DISTINCT shingle
    identities and is BROADCAST (eval sets are orders of magnitude
    smaller than the corpus; their distinct-shingle set fits executor
    memory — pass ``broadcast_bench=False`` to fall back to a shuffled
    equi-join when it does not). The doc side is one map-side explode +
    broadcast semi-join + one groupBy on the doc id (map-side partial
    agg), then a left join of the hit counts back onto the full doc
    rows — hits exist only for contaminated docs, so AQE typically
    broadcasts that side too. No all-pairs operation anywhere.

    ``use_hashes=True`` matches shingles by 64-bit xxhash64 of the
    token tuple (``shingle_hashes`` — no string assembly, negligible
    collision rate); ``False`` uses the literal shingle strings (the
    SQL-expressible twin the driver oracle checks).

    ``bloom_prefilter_m``: optional LOSSLESS accelerator for the
    shuffled path — a Bloom filter (``sketches.bloom_build``, m bits /
    ``bloom_prefilter_k`` hashes) over the benchmark shingles drops doc
    shingles map-side BEFORE the join. Bloom has no false negatives, so
    every true match survives and the exact join removes the false
    positives: the output is IDENTICAL with or without it
    (test-pinned). Worth it when ``broadcast_bench=False`` (the bench
    set outgrew executor memory): a clean corpus then ships ~FPR of its
    shingles through the shuffle instead of all of them. Building the
    filter runs one bounded eager job (collect of m/32 longs).
    """
    shingler = shingle_hashes if use_hashes else shingles
    # materialize tokens into a bound column BEFORE the shingle
    # higher-order lambda: an inlined tokenize() re-evaluates its
    # regex split per element access inside the interpreted transform
    # (measured 8.4s → ~1s for the sf0.1 doc side)
    bench_sh = (
        benchmark.select(tokenize(F.col(bench_text_col)).alias("_toks"))
        .select(F.explode(shingler(F.col("_toks"), n)).alias("_sh"))
        .distinct()
    )
    doc_sh = docs.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("_toks")
    ).select(F.col(id_col), F.explode(shingler(F.col("_toks"), n)).alias("_sh"))
    if bloom_prefilter_m is not None:
        from turboxsl_spark.operators.sketches import bloom_build, bloom_probe

        words = bloom_build(
            bench_sh, "_sh", m=bloom_prefilter_m, k=bloom_prefilter_k,
            salt="decontam_bloom",
        )
        doc_sh = (
            bloom_probe(
                doc_sh, words, "_sh", k=bloom_prefilter_k,
                salt="decontam_bloom", out="_bh",
            )
            .where(F.col("_bh"))
            .drop("_bh")
        )
    if broadcast_bench:
        bench_sh = F.broadcast(bench_sh)
    hits = (
        doc_sh.join(bench_sh, "_sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("contam_hits"))
    )
    return (
        docs.join(hits, id_col, "left")
        .withColumn("contam_hits", F.coalesce("contam_hits", F.lit(0)))
        .withColumn("contaminated", F.col("contam_hits") >= min_hits)
    )
