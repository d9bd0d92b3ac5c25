"""Document deduplication — exact and near-dup, Spark-first.

The training-data-pipeline operators (task brief): exact hash dedup,
MinHash+LSH, SimHash, n-gram Jaccard verification, embedding-cosine
near-dup. Everything except SimHash bit-voting stays JVM-side (hash
functions + higher-order array functions); SimHash uses a vectorized
numpy pandas-UDF because 64-bit bit-voting has no array-function
equivalent that stays readable.

Hash family. Every near-dup hash derives from md5 hex digests — the
reference's own digest (``ltr:md5_hex``) — so ANY engine that can md5
(the DuckDB correctness oracle, pandas, a future port) reproduces
signatures, LSH buckets, Jaccard sets, SimHash and fingerprints
BIT-EXACTLY. Word n-grams come from one body
(``text_analysis._grams``): literal strings for ``shingles``, md5
digests for the signature, verify and fingerprint stages.

MinHash slots use 48-bit enhanced double hashing (Kirsch &
Mitzenmacher): slot_j(s) = (h1(s) + j*h2(s) + j**2) mod P48, with
h1/h2 the first/second 12 hex chars of md5(gram) — one digest per
gram, NOT k. An affine family over one hash, (a*h+b) mod M, is
piecewise-monotone: its slots correlate, and real shingle sets showed
agreement far below the Jaccard expectation. h1 and h2 are INDEPENDENT
48-bit digests, so these slots decorrelate and track Jaccard
(property-tested in tests/test_dedup.py). The max slot
h1 + 63*h2 + 63**2 < 2**54 stays inside BIGINT in both engines: no
overflow, no engine-specific wrap.

Docs with no grams (empty, whitespace-only or NULL text) share the
max-long sentinel signature.

Scale notes:
- shingling/minhash are per-row map work — no shuffle, fully parallel;
- LSH banding shuffles once on (band, band_hash) — candidate pairs are
  generated per bucket, so the blowup is bounded by bucket size, not n²;
- the Jaccard verify runs only on candidate pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from turboxsl_spark.functions.strings import normalize_space
from turboxsl_spark.functions.text_analysis import _grams

from .rank import _reliable_checkpoint
from .skew import _q


def tokenize(c: Column | str) -> Column:
    """Lowercased whitespace tokens after normalize-space. Blank text
    gives an empty array, NULL text NULL."""
    return F.array_remove(F.split(F.lower(normalize_space(c)), " "), "")


def shingles(tokens: str, n: int = 3) -> Column:
    """Word n-gram shingle strings of the materialized token-array
    column named ``tokens``, JVM-side (``_grams`` with no digest): zero
    tokens → no shingles, fewer than n → the whole token string as the
    one shingle."""
    return _grams(tokens, n, "")


P48 = (1 << 48) - 59  # largest prime below 2**48 (md5 slot modulus)
_SIG_SENTINEL = (1 << 63) - 1  # signature of a doc with no grams


def _hex_long(digest: Column, start: int, n: int) -> Column:
    """Hex substring of a digest column → non-negative BIGINT (n <= 15
    keeps the value under 2**60, inside long range in any engine)."""
    return F.conv(F.substring(digest, start, n), 16, 10).cast("long")


def md5_hash60(c: Column | str) -> Column:
    """60-bit integer hash from the first 15 hex chars of md5 —
    DuckDB: ``CAST(('0x' || substr(md5(c), 1, 15)) AS UBIGINT)``."""
    c = F.col(c) if isinstance(c, str) else c
    return _hex_long(F.md5(c), 1, 15)


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one representative (min id) per identical normalize-space
    text.

    A ``row_number`` window over the md5 of the normalized text, ordered
    by id: one shuffle and sort on the md5, which carries only the
    columns the caller keeps (Catalyst prunes the rest below the
    window).
    """
    w = Window.partitionBy("_h").orderBy(id_col)
    return (
        df.withColumn("_h", F.md5(normalize_space(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    out: str = "minhash",
    id_col: str = "doc_id",
) -> DataFrame:
    """k-slot MinHash over word shingles, all JVM-side; returns
    ``(id_col, out)`` rows (the LSH banding needs nothing else, so the
    signature is not joined back onto ``df``). Slot families: module
    docstring.

    Physical shape: EXPLODE the shingle hashes to narrow (id, hash)
    rows, one hash-aggregate with k fused min() expressions — all
    inside whole-stage codegen. (Array-lambda variants run
    interpreted, with no common-subexpression elimination, and
    profiled ~10x slower.) The exploded exchange carries two
    values per shingle and partial min() combines map-side, so the
    shuffle stays tiny even when documents are megabytes. Docs with no
    shingles share the sentinel signature, so ALL empty docs collapse
    into one representative downstream — intended dedup semantics.
    """
    # tokenize ONCE into a bound column: expressions inlined into an
    # interpreted lambda re-evaluate per element access (the regex split
    # would otherwise run 3x per shingle — profiled 6x slower)
    toks = df.select(F.col(id_col), tokenize(text_col).alias("_toks"))
    # one digest per shingle, split into two 48-bit halves; the
    # no-shingle row from explode_outer gives NULL halves → NULL slots
    # → min skips them → coalesce to the sentinel below
    exploded = toks.select(
        F.col(id_col), F.explode_outer(_grams("_toks", shingle_n, "md5")).alias("_h")
    ).select(
        F.col(id_col),
        _hex_long(F.col("_h"), 1, 12).alias("_h1"),
        _hex_long(F.col("_h"), 13, 12).alias("_h2"),
    )
    # The k agg/array expressions are JVM-parsed SQL strings: building
    # 64 Column-API trees cost ~1.2s of driver time per call (guide §1
    # — construction is charged to the query by the bench timer).
    aggs = [
        F.expr(f"min((_h1 + {i}L * _h2 + {i * i}L) % {P48}L)").alias(f"_m{i}")
        for i in range(num_hashes)
    ]
    sig = F.expr(
        "array("
        + ", ".join(f"coalesce(_m{i}, {_SIG_SENTINEL}L)" for i in range(num_hashes))
        + ")"
    )
    return exploded.groupBy(id_col).agg(*aggs).select(F.col(id_col), sig.alias(out))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "minhash",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Band the signatures, bucket-join within (band, bucket_hash).

    Returns distinct candidate pairs (id_a < id_b). The self-join is an
    equi-join on the bucket key — a single shuffle, no n² blowup. The
    bucket is the md5 of the comma-joined band slice (engine-portable:
    DuckDB ``md5(array_to_string(list_slice(...)))``).

    The banded explode is ONE JVM-parsed SQL expression (identical
    tree to the per-band Column-API build; construction cost — see
    ``minhash_signatures``).
    """
    sc = _q(sig_col)
    bb = F.expr(
        "explode(array("
        + ", ".join(
            f"struct({b} AS band, md5(concat_ws(',', CAST(slice({sc}, "
            f"{b * rows_per_band + 1}, {rows_per_band}) AS ARRAY<STRING>))) AS bucket)"
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
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (the verify stage).

    Computed over the md5 digests of the shingles (``_grams``), what
    the DuckDB oracle reproduces: the same Jaccard as over the shingle
    strings up to vanishing digest collisions.

    Every row of ``docs`` is tokenized and shingled, so a caller
    whose ``pairs`` are materialized passes only the docs they name
    (``minhash_dedup`` does)."""
    sh = docs.select(
        F.col(id_col).alias("_jid"),
        # NULL text → NULL token array, which would make the Jaccard
        # NULL and silently exempt NULL-text docs from dedup; coalesce
        # to NO tokens instead (→ the empty shingle set), so contentless
        # docs (NULL or empty) compare as jaccard 1.0 — consistent with
        # the signature stage, where they share the sentinel signature
        F.coalesce(tokenize(text_col), F.array().cast("array<string>")).alias("_toks"),
    ).select(
        "_jid",
        F.array_distinct(_grams("_toks", shingle_n, "md5")).alias("_sh"),
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
    fixpoint: an ``Observation`` on each round's checkpoint counts the
    changed labels, so the checkpoint job itself reports it.
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
        # round's label rides along so the checkpoint job counts the
        # changed labels, with no join back to the old table and no
        # probe job of its own
        r2 = stepped.select(F.col("node").alias("_n2"), F.col("rep").alias("_r2"))
        changed = Observation()
        jumped = _reliable_checkpoint(
            stepped.join(r2, stepped.rep == r2._n2, "left")
            .select(
                "node",
                F.least("rep", F.coalesce("_r2", "rep")).alias("rep"),
                "_old",
            )
            .observe(changed, F.expr("count_if(rep != _old)").alias("n"))
        )
        rep = jumped.drop("_old")
        if changed.get["n"] == 0:
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
    keep the min-id representative of each component. All three
    hashing stages are md5-derived, so the DuckDB oracle
    replays the whole pipeline end-to-end.

    The candidate pairs are checkpointed, and the verify stage
    shingles ONLY the docs they name: ``df`` is semi-joined to the
    pair ids before ``ngram_jaccard``. At corpus
    scale the candidate set is orders of magnitude smaller than the
    corpus; without the semi-join the verify stage would shingle the
    whole corpus twice just to discard non-candidates in its joins.
    The id scan is two more consumers of ``pairs``, which is why it
    runs only over the checkpoint (over a lazy plan each consumer
    would re-run the full LSH pipeline)."""
    sigs = minhash_signatures(df, text_col, num_hashes, shingle_n, id_col=id_col)
    pairs = _reliable_checkpoint(
        lsh_candidate_pairs(sigs, id_col, "minhash", bands, num_hashes // bands)
    )
    ids = (
        pairs.select(F.col("id_a").alias("_jid"))
        .unionByName(pairs.select(F.col("id_b").alias("_jid")))
        .distinct()
    )
    # no broadcast hint: AQE broadcasts the id set when it is small
    # and falls back to a shuffled semi-join when it is not
    cand = df.join(ids, df[id_col] == ids["_jid"], "left_semi")
    dupes = ngram_jaccard(pairs, cand, id_col, text_col, shingle_n).where(
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


def simhash(df: DataFrame, text_col: str = "text", out: str = "simhash") -> DataFrame:
    """Deterministic SimHash: one JVM hash per token, numpy bit-voting.

    Each token hashes with ``md5_hash60``, so the signature is 60-bit
    (bits 60-63 always zero) and the DuckDB oracle restates the vote as
    60 conditional SUMs per doc — bit-exact.

    Tokens are materialized into a bound column first — an inlined
    tokenizer expression would re-run the regex split per element
    access inside the interpreted transform lambda."""
    df = df.withColumn("_sh_toks", tokenize(text_col))
    hashes = F.transform(F.col("_sh_toks"), md5_hash60)
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
    fold-dot signature is built as ONE JVM-parsed SQL expression
    (``random_hyperplane_bucket``) — the
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
        "id_a", "id_b", cosine("_va", "_vb").alias("cos_sim")
    ).where(F.col("cos_sim") >= threshold)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Flag training documents contaminated by an eval/benchmark set.

    Standard word-n-gram decontamination (the published recipe for LLM
    corpus builds): a document is contaminated when at least
    ``min_hits`` of its n-gram shingle OCCURRENCES appear anywhere in
    the benchmark's shingle set. Shingles match as literal strings
    (``shingles``), the form the DuckDB oracle restates. Returns
    ``docs`` plus ``contam_hits`` (long) and ``contaminated`` (boolean).

    Scale shape: the benchmark side reduces to DISTINCT shingle
    identities and is BROADCAST (eval sets are orders of magnitude
    smaller than the corpus; their distinct-shingle set fits executor
    memory). The doc side is one map-side explode + broadcast
    semi-join + one groupBy on the doc id (map-side partial agg), then
    a left join of the hit counts back onto the full doc rows — hits
    exist only for contaminated docs, so AQE typically broadcasts that
    side too. No all-pairs operation anywhere.
    """

    # materialize tokens into a bound column BEFORE the shingle
    # higher-order lambda: an inlined tokenize() re-evaluates its
    # regex split per element access inside the interpreted transform
    # (measured 8.4s → ~1s for the sf0.1 doc side)
    bench_sh = (
        benchmark.select(tokenize(F.col(bench_text_col)).alias("_toks"))
        .select(F.explode(shingles("_toks", n)).alias("_sh"))
        .distinct()
    )
    doc_sh = docs.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("_toks")
    ).select(F.col(id_col), F.explode(shingles("_toks", n)).alias("_sh"))
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "_sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("contam_hits"))
    )
    return (
        docs.join(hits, id_col, "left")
        .withColumn("contam_hits", F.coalesce("contam_hits", F.lit(0)))
        .withColumn("contaminated", F.col("contam_hits") >= min_hits)
    )
