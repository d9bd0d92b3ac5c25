"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship point-in-time feature pipeline on the
sf0.001 testdata (events adapted to the transcript shape).
``queries()``/``oracle_sql()`` expose each implemented operator from
SURVEY.md §2 with a DuckDB-checkable ANSI-SQL twin (see COVERAGE.md for
the full operator → query/test map). Column names are aliased
identically on both sides; aggregates over money columns go through
DECIMAL(18,2) so Spark and DuckDB produce bit-identical doubles
regardless of summation order; gap/latency math runs on integer
microseconds before one final division so both engines round
identically.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from turboxsl_spark.operators.similarity import EMB_DIM as _EMB_DIM

SF_SMOKE = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full PIT feature surface over transcript-shaped events."""
    from turboxsl_spark.plans.featurespec import FeatureSpec, build_features
    from turboxsl_spark.sources.transcripts import transcripts_from_events

    tx = transcripts_from_events(spark, SF_SMOKE)
    return build_features(tx, FeatureSpec())


# ---------------------------------------------------------------------------
# oracle-checked operator queries (SURVEY.md §2 inventory)
# ---------------------------------------------------------------------------

_D = "decimal(18,2)"


def q_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 aggregation: grouped sum/count (TPC-H Q1 shape).

    Money sums ride DECIMAL so the value is order-independent and
    bit-equal to the DuckDB oracle after the final cast to double.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(_D)).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(_D)).cast("double").alias("sum_base_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 key()-style joins: orders ⋈ customer ⋈ broadcast(nation)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast(_D)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 top-k per group: rank ≤ 3 orders per customer by price."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", F.col("rk").cast("long").alias("rk"))
    )


def q_positional_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 XPath positional predicate ``[2]``: second line per order."""
    li = _t(spark, sf_dir, "lineitem")
    # l_linenumber is non-unique in this synthetic data → full tiebreak
    w = W.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_extendedprice"
    )
    return (
        li.withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") == 2)
        .select("l_orderkey", "l_partkey", "l_quantity")
    )


def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 preceding/following-sibling as lag/lead over the event stream."""
    from turboxsl_spark.operators.sessionize import gap_seconds_fn
    from turboxsl_spark.operators.windows import conv_over, lag_lead_fns

    over = conv_over("user_id", ("ts", "event_id"))
    fns = lag_lead_fns(["value"], (1, 2), lead=True)
    cols = {
        "value_lag1": fns["value_lag1"],
        "value_lag2": fns["value_lag2"],
        "value_lead1": fns["value_lead1_future"],
        "gap_s": gap_seconds_fn(),
    }
    return _t(spark, sf_dir, "events").selectExpr(
        "user_id", "event_id", "value", *[f"{f.sql(over)} AS {n}" for n, f in cols.items()]
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionize (timeout 1800s) + per-session aggregates."""
    from turboxsl_spark.operators.sessionize import with_session_id

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = with_session_id(ev, timeout_s=1800, w=w)
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    ).select(
        "user_id", F.col("session_id").cast("long").alias("session_id"),
        "n_events", "session_start", "session_end",
    )


def q_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill: last non-null sparse marker at/before each event."""
    from turboxsl_spark.operators.windows import conv_over, forward_fill_fns

    ffill = forward_fill_fns(["marker"])["marker_ffill"]
    over = conv_over("user_id", ("ts", "event_id"))
    return (
        _t(spark, sf_dir, "events")
        .selectExpr("*", "CASE WHEN event_id % 5 = 0 THEN props END AS marker")
        .selectExpr("user_id", "event_id", "marker", f"{ffill.sql(over)} AS marker_ffill")
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 preceding:: as sort-merge as-of join: latest 'purchase'-class
    fact value at each event timestamp (strict <, zero leakage)."""
    from turboxsl_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    first_type = "click"
    facts = ev.where(F.col("event_type") == first_type).select(
        "user_id", "ts", "event_id", F.col("value").alias("fact_value")
    )
    spine = ev.select("user_id", "event_id", "ts")
    out = asof_join(
        spine,
        facts.withColumnRenamed("event_id", "fact_id"),
        on="user_id",
        ts_col="ts",
        value_cols=["fact_value"],
        strict=True,
        fact_seq_col="fact_id",
        fact_ts_out=None,
    )
    return out.select("user_id", "event_id", "fact_value_asof")


def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 following:: (ref src/xpath.c:409-428): the EARLIEST
    'click'-class fact strictly after each event timestamp — the
    reverse as-of (non-PIT lookahead, the _future-column discipline)."""
    from turboxsl_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    facts = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("fact_id"),
        F.col("value").alias("fact_value"),
    )
    spine = ev.select("user_id", "event_id", "ts")
    out = asof_join(
        spine,
        facts,
        on="user_id",
        ts_col="ts",
        value_cols=["fact_value"],
        strict=True,
        fact_seq_col="fact_id",
        fact_ts_out=None,
        direction="forward",
    )
    return out.select(
        "user_id", "event_id", F.col("fact_value_asof").alias("fact_value_next")
    )


def q_asof_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 skew note applied to the CORE operator: time-bucket salted
    two-phase as-of join (1-day chunks → ~30 buckets per user over the
    30-day event span) checked against the SAME oracle as asof_join —
    salt-invariance is the correctness contract."""
    from turboxsl_spark.operators.asof import asof_join_salted

    ev = _t(spark, sf_dir, "events")
    facts = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("fact_id"),
        F.col("value").alias("fact_value"),
    )
    spine = ev.select("user_id", "event_id", "ts")
    out = asof_join_salted(
        spine,
        facts,
        on="user_id",
        ts_col="ts",
        value_cols=["fact_value"],
        strict=True,
        fact_seq_col="fact_id",
        fact_ts_out=None,
        chunk_s=86400.0,
    )
    return out.select("user_id", "event_id", "fact_value_asof")


def q_asof_salted_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4/§2.6 composed: the skew-safe salted two-phase as-of in the
    FORWARD (following::) direction — carry is the first fact of
    following buckets, back-filled. Checked against the SAME oracle as
    asof_forward: salt-invariance is the correctness contract."""
    from turboxsl_spark.operators.asof import asof_join_salted

    ev = _t(spark, sf_dir, "events")
    facts = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("fact_id"),
        F.col("value").alias("fact_value"),
    )
    spine = ev.select("user_id", "event_id", "ts")
    out = asof_join_salted(
        spine,
        facts,
        on="user_id",
        ts_col="ts",
        value_cols=["fact_value"],
        strict=True,
        fact_seq_col="fact_id",
        fact_ts_out=None,
        chunk_s=86400.0,
        direction="forward",
    )
    return out.select(
        "user_id", "event_id", F.col("fact_value_asof").alias("fact_value_next")
    )


def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 XPath union — concatenation, NO dedup (unionAll semantics)."""
    li = _t(spark, sf_dir, "lineitem")
    hi = li.where(F.col("l_quantity") >= 45).select(
        "l_orderkey", "l_linenumber", F.lit("hi").alias("src")
    )
    lo = li.where(F.col("l_quantity") <= 5).select(
        "l_orderkey", "l_linenumber", F.lit("lo").alias("src")
    )
    return hi.unionByName(lo)


def q_sort_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 xsl:sort: multi-key (text asc case-insensitive, number desc),
    exposed as a deterministic global rank — computed DISTRIBUTED by
    ``global_rank``: one range exchange whose stage sorts and numbers
    its rows, then per-partition offsets added in a projection (a
    no-partitionBy window would collapse to one task at scale)."""
    from turboxsl_spark.operators.rank import global_rank

    p = _t(spark, sf_dir, "part")
    order = [
        F.lower(F.col("p_type")).asc(),
        F.col("p_retailprice").desc(),
        F.col("p_partkey").asc(),
    ]
    return global_rank(p, order, out="sort_rank").select("p_partkey", "sort_rank")


def q_sort_caseorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 xsl:sort case-order="lower-first": the reference PARSES the
    attribute (/root/reference/src/transform.c:358-360) but its
    strcasecmp comparator drops it; this engine implements the
    documented XSLT semantics via ``caseorder_keys`` — case-insensitive
    primary + whole-string byte-order tiebreak — on the same
    distributed global_rank as q_sort_multikey. Mixed-case
    keys are synthesized deterministically (even part keys lowercase
    their type) so every tie group exercises the case ordering."""
    from turboxsl_spark.operators.rank import caseorder_keys, global_rank

    p = _t(spark, sf_dir, "part")
    skey = F.when(
        F.col("p_partkey") % 2 == 0, F.lower(F.col("p_type"))
    ).otherwise(F.col("p_type"))
    df = p.select("p_partkey", skey.alias("skey"))
    order = caseorder_keys("skey", "lower-first") + [F.col("p_partkey").asc()]
    return global_rank(df, order, out="sort_rank").select(
        "p_partkey", "skey", "sort_rank"
    )


def q_string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 string library over documents: normalize-space, translate,
    substring (1-based), substring-before/after, contains, length, md5."""
    from turboxsl_spark.functions.strings import (
        md5_hex,
        normalize_space,
        substring_after,
        substring_before,
        xpath_substring,
        xpath_translate,
    )

    d = _t(spark, sf_dir, "documents")
    norm = normalize_space(F.col("text"))
    return d.select(
        "doc_id",
        norm.alias("text_norm"),
        F.length(norm).cast("long").alias("norm_len"),
        xpath_translate(norm, "aeiou", "AEIO").alias("translated"),
        xpath_substring(norm, 1, 20).alias("head20"),
        substring_before(norm, " ").alias("first_word"),
        substring_after(norm, " ").alias("rest"),
        norm.contains("the").cast("boolean").alias("has_the"),
        F.md5(norm).alias("norm_md5"),
    )


def q_numeric_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 numeric semantics: XPath round=floor(x+0.5), truncating mod,
    integral-double stringification."""
    from turboxsl_spark.functions.numeric import (
        xpath_mod,
        xpath_number_to_string,
        xpath_round,
    )

    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice") * F.col("l_discount")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        xpath_round(x).alias("rounded"),
        xpath_mod("l_orderkey", F.lit(7)).alias("mod7"),
        xpath_number_to_string(F.col("l_quantity")).alias("qty_str"),
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text hash: representative + group size."""
    from turboxsl_spark.functions.strings import normalize_space

    d = _t(spark, sf_dir, "documents")
    h = F.md5(normalize_space(F.col("text")))
    return (
        d.select("doc_id", h.alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count(F.lit(1)).alias("n_dupes"))
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: 5 nearest neighbours of vec_id=0.

    JVM-side dot products (``similarity.cosine``, no UDF)."""
    from turboxsl_spark.operators.similarity import cosine

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    cand = emb.where(F.col("vec_id") != 0)
    scored = cand.crossJoin(F.broadcast(q)).select(
        "vec_id", F.round(cosine("embedding", "q_emb"), 6).alias("cos_sim")
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(5)


def q_group_agg_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end conversation rollup over the events→transcript adapter:
    turns, sessions, chars — the document()-per-conversation aggregate."""
    from turboxsl_spark.operators.sessionize import with_session_id
    from turboxsl_spark.sources.transcripts import transcripts_from_events

    tx = transcripts_from_events(spark, sf_dir)
    s = with_session_id(tx, timeout_s=1800)
    return s.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        (F.max("session_id") + 1).cast("long").alias("n_sessions"),
        F.sum(F.length("text")).alias("total_chars"),
        F.count("tool").alias("n_tool_turns"),
    )


def q_running_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """position()/last()-style running count + running sum per user."""
    from turboxsl_spark.operators.windows import WindowFn, conv_over, position_fn

    over = conv_over("user_id", ("ts", "event_id"))
    running_sum = WindowFn("sum(value)", running=True)
    return _t(spark, sf_dir, "events").selectExpr(
        "user_id",
        "event_id",
        f"CAST({position_fn().sql(over)} AS BIGINT) AS pos",
        "count(1) OVER (PARTITION BY user_id) AS last_pos",
        f"round({running_sum.sql(over)}, 6) AS running_value",
    )


def q_token_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counts + quality-score components (documents)."""
    from turboxsl_spark.functions.text_analysis import quality_score, token_count

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_obs"),
        quality_score("text").alias("quality"),
    )


def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1, word
    variant), oracle-checked: distinct-word fraction, top-bigram
    fraction, duplicate-bigram-instance fraction. Spark computes them
    as a zero-shuffle run-length scan over each doc's SORTED bigram
    array (no explode, no Python); DuckDB re-derives the same numbers
    the relational way (unnest → self-join → group). Both divide the
    same integers, so doubles match bit-exactly."""
    from turboxsl_spark.functions.text_analysis import repetition_metrics, words_of

    d = _t(spark, sf_dir, "documents")
    # no final orderBy (r06, guide §2.4): the query is otherwise
    # map-only, so a global sort added a range exchange whose boundary
    # SAMPLING re-executed the whole (interpreted, per-bigram) metric
    # projection a second time — measured ~2x the query. The driver's
    # gate compares row SETS (order-insensitive; the no-orderBy queries
    # have been hash-green since r01), so the sort bought nothing.
    return (
        d.withColumn("w", words_of("text"))
        .select("doc_id", repetition_metrics(F.col("w")).alias("m"))
        .select("doc_id", "m.*")
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID heuristic over documents."""
    from turboxsl_spark.functions.text_analysis import lang_id

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id("text").alias("lang_guess"))


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup dedup over documents, ORACLE-exact: every
    hash of ``minhash_dedup`` is md5-derived (see operators/dedup.py),
    so one DuckDB statement replays the WHOLE pipeline — 64-slot
    signatures (48-bit double hashing over md5 shingle digests),
    16-band bucket join, md5-shingle Jaccard verify at 0.8,
    transitive-closure components, min-id representative."""
    from turboxsl_spark.operators.dedup import minhash_dedup

    d = _t(spark, sf_dir, "documents")
    return (
        minhash_dedup(d, threshold=0.8).select("doc_id").orderBy("doc_id")
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard for adjacent doc-id pairs — the verify
    stage of the near-dup pipeline, oracle-checked end-to-end over the
    shingle strings DuckDB mirrors. ``dedup.ngram_jaccard`` computes
    the same value over md5 shingle digests (pinned in
    tests/test_dedup.py); called here it was slower in a paired A/B
    (AB_hash.json), because it shingles every doc once per join side."""
    from turboxsl_spark.operators.dedup import shingles, tokenize
    from turboxsl_spark.operators.rank import _reliable_checkpoint

    d = _t(spark, sf_dir, "documents")
    # tokens materialized into a bound column FIRST — inlining the
    # tokenizer into the shingle transform re-runs the regex split per
    # shingle access (interpreted lambdas have no CSE; measured 17s→2s).
    # The shingle table is then materialized ONCE (r06): it feeds BOTH
    # sides of the adjacent-pair self-join, which otherwise re-runs
    # the interpreted per-shingle string assembly over every doc twice
    # (paired A/B at sf0.1: 1.28s -> 0.90s).
    sh = _reliable_checkpoint(
        d.select("doc_id", tokenize(F.col("text")).alias("_toks")).select(
            "doc_id", F.array_distinct(shingles("_toks", 3)).alias("sh")
        )
    )
    a = sh.selectExpr("doc_id AS id_a", "sh AS sh_a")
    b = sh.selectExpr("doc_id - 1 AS id_a", "doc_id AS id_b", "sh AS sh_b")
    j = a.join(b, "id_a")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    uni = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "id_a",
        "id_b",
        F.round(
            F.when(uni == 0, F.lit(1.0)).otherwise(inter.cast("double") / uni), 6
        ).alias("jaccard"),
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 60-bit SimHash per document, ORACLE-exact:
    ``simhash`` hashes tokens with md5_hash60, so DuckDB restates the
    numpy bit-vote as 60 conditional SUMs per doc and matches
    bit-for-bit."""
    from turboxsl_spark.operators.dedup import simhash

    d = _t(spark, sf_dir, "documents")
    return simhash(d).select("doc_id", "simhash")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling document fingerprint, ORACLE-exact: the
    md5 chain of ``fingerprint`` is replayed by DuckDB via list_reduce
    over the same 4-gram digests."""
    from turboxsl_spark.functions.text_analysis import fingerprint, words_of

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", words_of("text").alias("_w")).select(
        "doc_id", fingerprint("_w").alias("fp_md5")
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH buckets, exact cosine
    within bucket — ORACLE-exact: the seeded hyperplanes are plan-time
    literals, so the oracle replays bucketing, Hamming-1 multiprobe,
    and the in-bucket cosine top-k bit-for-bit (_ann_lsh_oracle).
    Recall vs brute force is pinned in tests/test_similarity.py."""
    from turboxsl_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 3).selectExpr(
        "vec_id AS q_id", "embedding"
    )
    return lsh_topk(emb, queries_df, k=5, nbits=8, dim=64).select(
        "q_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"), F.col("rank").cast("long").alias("rank")
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate NN, ORACLE-exact end-to-end: the k-means coarse
    quantizer trains on the (whole, file-ordered) sf-0.01 corpus with a
    fixed seed, so the oracle generator re-derives the SAME centroids
    via pyarrow+numpy and emits them as SQL literals; corpus AND query
    assignment run as sequential-fold JVM dots, which DuckDB replays
    bit-for-bit via list_reduce. Recall vs brute force stays pinned in
    tests/test_similarity.py."""
    from turboxsl_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 3).selectExpr(
        "vec_id AS q_id", "embedding"
    )
    out = ivf_topk(
        emb, queries_df, k=5, n_centroids=16, nprobe=4, sample_size=2000
    )
    return out.select(
        "q_id", "vec_id", F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_template_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 xsl:choose/when/otherwise — first-match multiway branch as a
    chained F.when (the engine's template-dispatch form)."""
    ev = _t(spark, sf_dir, "events")
    category = (
        F.when(F.col("event_type").isin("click", "view"), F.lit("browse"))
        .when(F.col("event_type").isin("purchase", "signup"), F.lit("convert"))
        .otherwise(F.lit("other"))
    )
    adjusted = (
        F.when(F.col("event_type") == "purchase", F.col("value") * 2)
        .when(F.col("event_type") == "error", F.lit(0.0))
        .otherwise(F.col("value"))
    )
    return (
        ev.select(category.alias("category"), adjusted.alias("adj"))
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("adj"), 4).alias("sum_adj"),
        )
    )


def q_existential_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 XPath existential `=` over nodesets: ANY-pair match between
    a user's event-type set and a constant set."""
    ev = _t(spark, sf_dir, "events")
    types = F.collect_set("event_type").alias("types")
    g = ev.groupBy("user_id").agg(types)
    return g.select(
        "user_id",
        F.array_contains("types", "purchase").alias("has_purchase"),
        F.arrays_overlap(
            F.col("types"), F.array(F.lit("error"), F.lit("signup"))
        ).alias("has_err_or_signup"),
        F.size("types").cast("long").alias("n_types"),
    )


def q_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 set ops the reference lacks: orders with BOTH hi- and lo-
    quantity lines (INTERSECT) tagged against hi-only (EXCEPT)."""
    li = _t(spark, sf_dir, "lineitem")
    hi = li.where(F.col("l_quantity") >= 45).select("l_orderkey").distinct()
    lo = li.where(F.col("l_quantity") <= 5).select("l_orderkey").distinct()
    both = hi.intersect(lo).select("l_orderkey", F.lit("both").alias("tag"))
    hi_only = hi.exceptAll(lo).select("l_orderkey", F.lit("hi_only").alias("tag"))
    return both.unionByName(hi_only)


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 pivot: order counts by priority × status."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("F", F.lit(0)).alias("n_filled"),
            F.coalesce("P", F.lit(0)).alias("n_partial"),
        )
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 exsl:node-set analogue: parse a JSON string column into
    typed values (get_json_object) + aggregate."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_key_lookup_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 key() with unmatched probes: left join against a filtered
    dimension; misses yield NULL (key() → empty nodeset)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_size") >= 40).select(
        "p_partkey", "p_brand"
    )
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left")
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count("p_brand").alias("n_matched"),
        F.sum(F.when(F.col("p_brand").isNull(), 1).otherwise(0)).alias("n_null"),
    )


def q_localize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 ltr:__l/__ln localization: catalog lookup + plural rule +
    {n} interpolation, all plan-time map lookups."""
    from turboxsl_spark.functions.localize import localize, localize_plural

    ev = _t(spark, sf_dir, "events")
    cat = {
        "click": "Clicked",
        "view": "Viewed",
        "purchase": "Purchased",
        "signup": "Signed up",
        "error": "Failed",
    }
    k = F.get_json_object("props", "$.k").cast("long")
    forms = {"items": ["{n} item", "{n} items"]}
    return ev.select(
        "event_id",
        localize("event_type", cat).alias("label"),
        localize_plural(F.lit("items"), k, forms, "en").alias("items_text"),
    )


def q_current_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 current() correlation (ref src/functions.c:125-133): events
    whose value exceeds their OWN user's max purchase value — a
    correlated comparison row-vs-group-scalar, computed as one
    hash-aggregate + broadcast join (no window sort, no theta join)."""
    from turboxsl_spark.operators.correlate import with_current

    ev = _t(spark, sf_dir, "events")
    out = with_current(
        ev,
        "user_id",
        {
            "max_purchase": F.max(
                F.when(F.col("event_type") == "purchase", F.col("value"))
            )
        },
    )
    return out.where(F.col("value") > F.col("max_purchase")).select(
        "user_id", "event_id", "value", "max_purchase"
    )


def q_memo_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 ltr:url_code/veristat as a precomputed broadcast memo join
    (ref src/functions.c:919-1059, hottest fns per the :1345-1392 call
    profile): key→value attached JVM-side, misses → '' default, never
    a per-row external call or Python UDF (plan-asserted)."""
    from turboxsl_spark.functions.memo import memo_lookup

    ev = _t(spark, sf_dir, "events")
    codes = {
        "click": "/c",
        "view": "/v",
        "purchase": "/buy",
        "signup": "/join",
        # 'error' intentionally absent → default path exercised
    }
    out = memo_lookup(ev, codes, on="event_type", out="url_code", default="")
    return out.select("event_id", "event_type", "url_code")


def q_substring_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 XPath substring with FRACTIONAL/no-length args (ref
    src/functions.c:184-222): round(x)=floor(x+0.5) position windows.
    The oracle hardcodes the resolved integer windows, so the rounding
    logic itself is what's under test."""
    from turboxsl_spark.functions.strings import normalize_space, xpath_substring

    d = _t(spark, sf_dir, "documents")
    norm = normalize_space(F.col("text"))
    return d.select(
        "doc_id",
        xpath_substring(norm, 1.5, 2.6).alias("mid"),        # = substring(s,2,3)
        xpath_substring(norm, -1.2, 4.8).alias("head"),      # p∈[-1,4) → chars 1..3
        xpath_substring(norm, 3.7).alias("tail"),            # = substring(s,4)
        xpath_substring(norm, float("nan"), 3).alias("nan_empty"),
        xpath_substring(norm, -42, float("inf")).alias("whole"),
    )


def q_format_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 format-number: the grouping-pattern subset is ORACLE-checked
    (DuckDB printf over integer cents — floats don't take a thousands
    separator there); symbol overrides / exotic patterns are pinned by
    tests/test_functions_misc.py."""
    from turboxsl_spark.functions.format_number import format_number

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        format_number("l_extendedprice", "#,##0.00").alias("price_fmt"),
    )


def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 descendant:: / exsl:node-set as explode: top-50 tokens
    across documents (tokenize → explode → count → rank)."""
    from turboxsl_spark.operators.dedup import tokenize

    counts = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(tokenize("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # top-k via TakeOrderedAndProject (per-partition top-k + tiny driver
    # merge), NOT a no-partition window over the full token vocabulary —
    # the vocab is unbounded at 100 TB and would land in one task
    from turboxsl_spark.operators.rank import global_topk

    order = [F.col("n").desc(), F.col("token").asc()]
    return global_topk(counts, order, k=50, out="rnk").select("token", "n", "rnk")


def q_response_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation user→assistant response latency over the events
    adapter: the conversation window's gap and role lag, then one
    grouped aggregate; the SQL oracle states the same two LAGs and
    GROUP BY."""
    from turboxsl_spark.operators.sessionize import response_latency_stats
    from turboxsl_spark.sources.transcripts import transcripts_from_events

    tx = transcripts_from_events(spark, sf_dir)
    # adapter roles are event types; treat 'click' as user and
    # 'purchase' as assistant so pairs exist deterministically
    tx = tx.withColumn(
        "role",
        F.when(F.col("role") == "click", "user")
        .when(F.col("role") == "purchase", "assistant")
        .otherwise(F.col("role")),
    )
    out = response_latency_stats(tx)
    return out.select(
        "conv_id",
        "n_turns",
        "n_responses",
        F.round("mean_response_s", 4).alias("mean_response_s"),
        F.round("max_response_s", 4).alias("max_response_s"),
    )


def q_sessionize_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 skew note: the salted two-phase sessionizer must equal the
    plain window — checked here against the SAME SQL oracle as the
    unsalted path (chunk=256 forces multi-chunk merges at sf0.01)."""
    from turboxsl_spark.operators.skew import salted_session_id

    ev = _t(spark, sf_dir, "events")
    # dense per-user ordinal = the ord_col contract of the salted ops
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ev = ev.withColumn("_ord", F.row_number().over(w) - 1)
    out = salted_session_id(
        ev, timeout_s=1800, key="user_id", ord_col="_ord", ts_col="ts", chunk=256
    )
    return out.select(
        "user_id", "event_id", F.col("session_id").cast("long").alias("session_id")
    )


_PLANTED_CACHE: dict[str, str] = {}


def _planted_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-harness corpus for q_embedding_near_dup: raw embeddings plus
    the deterministic md5-noise twins, MEMOIZED to a scratch parquet per
    sf_dir (VERDICT r04 item 5). The per-component md5→conv→arith
    planting is harness cost, not operator cost — without the memo it
    dominated the query's bench profile (11.8s median at sf0.1); with
    it, repeat passes read the materialized corpus and time the
    OPERATOR. Parquet round-trips float32 exactly, so the memoized
    corpus is bit-identical to the computed one (oracle unchanged)."""
    import tempfile

    # stable per-sf path (versioned by the noise parameters) so the
    # one-time planting survives across PROCESSES too — bench pass 1
    # and the driver gate read the same materialized fixture instead of
    # each paying the codegen-heavy planting; _SUCCESS marks a
    # completed write (Spark emits it on commit)
    path = os.path.join(
        tempfile.gettempdir(),
        "turboxsl_planted_emb_v1_n03_"
        + re.sub(r"[^A-Za-z0-9]+", "_", sf_dir).strip("_"),
    )
    cached = _PLANTED_CACHE.get(sf_dir)
    if cached is None and os.path.exists(os.path.join(path, "_SUCCESS")):
        _PLANTED_CACHE[sf_dir] = path
        cached = path
    if cached is not None:
        return spark.read.parquet(cached)

    emb = _t(spark, sf_dir, "embeddings")
    u60 = F.lit(float(1 << 60))
    # two-step select: the noise is keyed by the TWIN's id — aliasing
    # and the lambda in one select would leave `vec_id` ambiguous under
    # lateral alias resolution
    twins = (
        emb.where(F.col("vec_id") % 10 == 0)
        .select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x, i: (
                    x.cast("double")
                    + (
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat(
                                        F.col("vec_id").cast("string"),
                                        F.lit(":"),
                                        i.cast("string"),
                                    )
                                ),
                                1,
                                15,
                            ),
                            16,
                            10,
                        ).cast("long").cast("double")
                        / u60
                        - F.lit(0.5)
                    )
                    * F.lit(0.03)
                ).cast("float"),
            ).alias("embedding"),
        )
    )
    planted = emb.select("vec_id", "embedding").unionByName(twins)
    planted.write.mode("overwrite").parquet(path)
    _PLANTED_CACHE[sf_dir] = path
    return spark.read.parquet(path)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via BANDED hyperplane LSH at its
    DESIGNED operating point (threshold 0.95, 36 bits / 6 bands),
    ORACLE-exact end-to-end.

    The raw testdata embeddings contain no true near-dups (max pairwise
    cos ≈ 0.51), so every 10th (unit-norm) vector gets a DETERMINISTIC
    perturbed twin — additive md5-derived uniform noise in ±0.015 per
    component (cos(v, twin) ≈ .998): hex→int→double arithmetic, so
    both engines build the bit-identical planted corpus (the earlier
    sin() noise was NOT portable — libm vs Math.sin may differ in the
    last ulp); the planted corpus is memoized to scratch parquet per
    session (``_planted_embeddings``) so bench medians time the
    OPERATOR, not the harness planting. Banding math at this point:
    per-bit match p ≈ 1-acos(.998)/π ≈ .98, per-band (6-bit) match
    p^6 ≈ .88, candidate recall 1-(1-p^6)^6 ≈ .999997 — and for the
    worst planted twin (cos .9972, per-band .865) the all-six-bands
    miss probability is ~6e-6; measured recall 1.0, asserted per-run
    by tests/test_entry_near_dup.py. The operator's OUTPUT is a
    deterministic function of its input (recall < 1 only means some
    true pairs are skipped, deterministically), so the DuckDB oracle
    replays the exact pipeline: literal hyperplanes → sign-bit
    signature → 6-bit band buckets → oversized-bucket cap → bucket
    self-join → exact-cosine verify.
    """
    from turboxsl_spark.operators.dedup import embedding_near_dup_pairs

    planted = _planted_embeddings(spark, sf_dir)
    # 6-bit band keys x 6 bands (nbits=36): 64 buckets per band cuts
    # the bucket self-join fan-out ~2.7x vs the old 16/4 point, and SIX
    # bands make the OR-construction robust to the worst planted twin
    # (cos .9972 -> per-band match .865, all-six-bands-miss ~6e-6 - the 24/4
    # point deterministically missed exactly that pair). Measured
    # recall 1.0, asserted per-run by tests/test_entry_near_dup.py
    pairs = embedding_near_dup_pairs(planted, threshold=0.95, nbits=36, bands=6, dim=64)
    return pairs.select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim")
    ).orderBy("id_a", "id_b")


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-keyed sampling + train/val/test split,
    oracle-checked: membership is a pure function of md5(salt || key)
    (first 32 bits vs cumulative thresholds), so the exact row set is
    reproducible in any engine — DuckDB computes the identical sample
    and labels. The corpus-build primitive df.sample can't give you:
    repartition-stable, join-closed, resumable."""
    from turboxsl_spark.operators.sampling import hash_sample, hash_split

    d = _t(spark, sf_dir, "documents")
    kept = hash_sample(d, "doc_id", 0.3, salt="corpus_v1")
    out = hash_split(
        kept, "doc_id", {"train": 0.7, "val": 0.2, "test": 0.1}, salt="split_v1"
    )
    return out.select("doc_id", "split")


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership decontamination, ORACLE-exact INCLUDING
    any false positives: a 1024-bit / 4-hash filter is built over the
    benchmark docs' normalized text (every 17th doc), then every doc is
    probed MAP-ONLY against the dense filter literal (zero shuffles in
    the probe — the scale story vs `decontaminate`'s broadcast distinct
    set: the filter is a fixed m-bit summary regardless of benchmark
    size). Bit positions are md5 double hashing (the engine's portable
    sketch family), so DuckDB rebuilds the identical filter and replays
    the probe bit-for-bit; `exact_hit` is reported alongside so the
    output also DEMONSTRATES the no-false-negative guarantee."""
    from turboxsl_spark.functions.strings import normalize_space
    from turboxsl_spark.operators.sampling import NULL_SENTINEL
    from turboxsl_spark.operators.sketches import bloom_build, bloom_probe

    d = _t(spark, sf_dir, "documents")
    nt = F.coalesce(F.lower(normalize_space("text")), F.lit(NULL_SENTINEL))
    keyed = d.select("doc_id", nt.alias("_nt"))
    bench = keyed.where(F.col("doc_id") % 17 == 0)
    words = bloom_build(bench, "_nt", m=1024, k=4, salt="bloom_v1")
    probed = bloom_probe(keyed, words, "_nt", k=4, salt="bloom_v1")
    exact = bench.select(F.col("_nt")).distinct().withColumn("_ex", F.lit(True))
    return (
        probed.join(exact, "_nt", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce("_ex", F.lit(False)).alias("exact_hit"),
        )
        # no final orderBy (r06): the range sampling re-ran the probe
        # chain + join; the gate comparison is order-insensitive
    )


def q_cm_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min token-frequency sketch, ORACLE-exact including every
    collision overcount: a 4×512 counter matrix is built over ALL token
    occurrences in the corpus (one map-side-combined count agg — the
    sketch is ≤ w·d counters regardless of corpus size), then a
    deterministic probe vocabulary (tokens of every 97th doc) is
    estimated MAP-ONLY against the dense counter literal and reported
    next to the exact counts. ``cm_est >= exact_cnt`` always (CM never
    undercounts); equality wherever the token's d cells are
    collision-free. DuckDB rebuilds the identical counters and
    estimates — the md5 double-hash family again."""
    from turboxsl_spark.operators.dedup import tokenize
    from turboxsl_spark.operators.rank import _reliable_checkpoint
    from turboxsl_spark.operators.sketches import cm_build, cm_estimate

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokenize("text")).alias("tok"))
    # ONE pass over the occurrences: the exact per-token rollup is
    # needed for the output anyway, so the sketch builds WEIGHTED from
    # (tok, count) — |vocab|·d exploded rows instead of |occurrences|·d
    # (identical counters; the pre-aggregated form is the 100-TB shape).
    # The rollup is materialized (bounded by |vocab|) because it has
    # TWO consumers — the eager sketch build and the output join —
    # which otherwise each re-run the full occurrence explode+agg
    # (paired A/B, AB_cm_checkpoint.json: 1.17 s with the checkpoint vs
    # 1.24 s without at sf0.1, 5 of 6 pairs; a wash at sf0.01).
    exact = _reliable_checkpoint(
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    sketch = cm_build(exact, "tok", w=512, d=4, salt="cm_v1", weight_col="exact_cnt")
    probe = toks.where(F.col("doc_id") % 97 == 0).select("tok").distinct()
    est = cm_estimate(probe, sketch, "tok", salt="cm_v1")
    return est.join(exact, "tok").select("tok", "cm_est", "exact_cnt").orderBy("tok")


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing, oracle-checked end-to-end: docs with
    doc_id % 3 == 0 get deterministic planted PII (email, IPv4, phone,
    long account number — all derived from doc_id, so both engines
    build the identical input), then the ordered Java∩RE2 regex chain
    redacts and counts. Map-only, zero shuffle, no Python
    (plan-asserted in tests/test_pii.py)."""
    from turboxsl_spark.functions.pii import pii_counts, redact_pii

    d = _t(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.org ip 10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".0.1 call 555-123-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" acct 9"),
            F.lpad((F.col("doc_id") % 100000000).cast("string"), 8, "0"),
        ),
    ).otherwise(F.col("text"))
    # no final orderBy (r06): map-only query — the global sort's range
    # sampling re-ran the whole regex chain a second time (see
    # q_repetition_profile; gate comparison is order-insensitive)
    return (
        d.select("doc_id", injected.alias("t"))
        .select(
            "doc_id",
            redact_pii("t").alias("redacted"),
            pii_counts("t").alias("c"),
        )
        .select("doc_id", "redacted", "c.*")
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-boundary sequence packing (training-data last mile),
    oracle-checked: shard by doc_id % 8, order by doc_id, cumulative
    whitespace-token offsets; a doc joins the 256-token sequence its
    start offset falls in. Pure window arithmetic — one per-shard sort
    shuffle, engine-independent assignments (DuckDB reproduces every
    seq_id). The exact greedy first-fit variant (sequence closes when
    the next doc doesn't fit) is pack_greedy, pinned in
    tests/test_packing.py."""
    from turboxsl_spark.functions.text_analysis import token_count
    from turboxsl_spark.operators.packing import pack_fixed_boundary

    d = _t(spark, sf_dir, "documents").withColumn(
        "n_tok", token_count("text").cast("long")
    )
    out = pack_fixed_boundary(
        d,
        ["doc_id"],
        "n_tok",
        window=256,
        shard_col=F.pmod(F.col("doc_id"), F.lit(8)),
    )
    return out.select(
        "doc_id",
        F.col("_shard").cast("long").alias("shard"),
        "n_tok",
        F.col("_start").alias("start_tok"),
        "seq_id",
    ).orderBy("doc_id")


def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentile_disc quantiles of l_extendedprice, distributed —
    value at 1-based sorted position max(1, ceil(q*n)). Built on
    global_rank's numbered range stage: the per-partition counts give n
    and the target positions, and only the target rows are read back,
    so no single-task window and no full rank at any scale; the oracle
    recomputes the positions with an explicit row_number so the
    tie/interpolation semantics are pinned, not library-dependent."""
    from turboxsl_spark.operators.rank import exact_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return exact_quantiles(
        li,
        "l_extendedprice",
        [0.01, 0.25, 0.5, 0.75, 0.9, 0.99],
        tiebreak=["l_orderkey", "l_linenumber"],
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language keep rates (the corpus-balancing primitive),
    oracle-checked: thresholds are integer literals, membership is the
    pure md5 function — DuckDB reproduces the exact row set. Unlisted
    languages drop (default_rate=0). Nested-sample property (raising a
    rate only adds keys) is pinned in tests/test_sampling.py."""
    from turboxsl_spark.operators.sampling import stratified_hash_sample

    d = _t(spark, sf_dir, "documents")
    out = stratified_hash_sample(
        d, "doc_id", "lang", {"en": 0.5, "de": 0.25, "zh": 1.0}, salt="strat_v1"
    )
    # no final orderBy (r06): map-only — see q_repetition_profile
    return out.select("doc_id", "lang")


def q_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix water-filling resampler, oracle-checked end-to-end:
    keep the LARGEST corpus with exact expected proportions targets=
    {src0:.5, src1:.3, src2:.2} — T = min_d(n_d/w_d), rate_d =
    T*w_d/n_d — the binding domain keeps all rows. Counts are a tiny
    per-domain agg; rates broadcast-join back; the filter is the same
    pure hash. DuckDB recomputes T and the row set identically
    (both engines do the same IEEE double ops in the same order)."""
    from turboxsl_spark.operators.sampling import mix_resample

    d = _t(spark, sf_dir, "documents")
    out = mix_resample(
        d, "doc_id", "source", {"src0": 0.5, "src1": 0.3, "src2": 0.2}, salt="mix_v1"
    )
    return out.select("doc_id", "source").orderBy("doc_id")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram benchmark decontamination, oracle-checked end-to-end:
    every doc with doc_id % 17 == 0 plays the role of an eval document;
    a training doc is contaminated when any of its word 5-gram shingle
    occurrences appears in the eval set's shingle set. Shingles match
    as literal strings, so DuckDB expresses the identical
    containment."""
    from turboxsl_spark.operators.dedup import decontaminate

    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 17 == 0)
    out = decontaminate(d, bench, n=5, min_hits=1)
    return out.select("doc_id", "contam_hits", "contaminated")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode: REAL in-container kernels for ALL THREE kinds
    (stdlib-only, operators/codecs.py) via mapInPandas — PNG pixel
    decode, WAV sample decode, and MP4 container demux (box walk →
    dimensions/duration/frame-count/mdat statistics; frame-PIXEL decode
    stays the documented ffmpeg plug point). Rows-only; kernels pinned
    in tests."""
    from turboxsl_spark.operators.multimodal import extract_features, gen_media

    media = gen_media(spark, n=48, seed=7)
    out = extract_features(media)
    return out.selectExpr(
        "media_id",
        "kind",
        "n_bytes",
        "round(aggregate(features, 0D, (a, v) -> a + v), 6) AS feat_sum",
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal header validation, oracle-checked as an INVARIANT:
    width/height (PNG IHDR, big-endian at fixed offsets),
    sample_rate/channels/bits (WAV fmt chunk, little-endian), and
    width/height/frame-count (MP4 stub layout — mvhd/tkhd/stsz at the
    writer's constant offsets) are decoded from the raw payload BYTES
    with pure JVM expressions (functions/binary_meta.py — no Python,
    no kernels) and compared to the recorded meta struct. The oracle
    states the expected outcome (every row's header matches its meta):
    any decode/layout bug flips hdr_ok and fails the value hash. The
    payload bytes themselves are generated in-engine, so a literal
    byte-level DuckDB replay is not possible — this invariant form is
    the strongest oracle available for generated binary columns."""
    from turboxsl_spark.functions.binary_meta import mp4_meta, png_meta, wav_meta
    from turboxsl_spark.operators.multimodal import gen_media

    media = gen_media(spark, n=48, seed=7)
    payload = F.col("payload")
    pm, wm, mm = png_meta(payload), wav_meta(payload), mp4_meta(payload)
    hdr_ok = (
        F.when(
            F.col("kind") == "image",
            (pm["width"] == F.col("meta.width"))
            & (pm["height"] == F.col("meta.height"))
            & (pm["bit_depth"] == 8),
        )
        .when(
            F.col("kind") == "audio",
            (wm["sample_rate"] == F.col("meta.sample_rate"))
            & (wm["channels"] == 1)
            & (wm["bits_per_sample"] == 16),
        )
        .otherwise(
            (mm["width"] == F.col("meta.width"))
            & (mm["height"] == F.col("meta.height"))
            & (mm["n_frames"] == F.col("meta.n_frames"))
            & (mm["timescale"] == 600),
        )
    )
    return media.select("media_id", "kind", hdr_ok.alias("hdr_ok"))


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline: quality score ≥ 0.5 AND
    lang = en AND exact-dedup representative — the filter→dedup chain a
    real corpus build runs, end-to-end oracle-checked. All map-side
    column expressions + ONE shuffle (the dedup hash window)."""
    from turboxsl_spark.functions.text_analysis import lang_id, quality_score, words_of
    from turboxsl_spark.operators.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents")
    # words materialized ONCE, shared by the 8 token lambdas across
    # quality_score + lang_id (inlined splits re-run per element access)
    scored = d.withColumn("_w", words_of("text")).select(
        "doc_id",
        "text",
        quality_score(F.col("text"), words=F.col("_w")).alias("quality"),
        lang_id(F.col("_w"), tokenized=True).alias("lang"),
    )
    kept = scored.where((F.col("quality") >= 0.5) & (F.col("lang") == "en"))
    return exact_dedup(kept).select("doc_id", "quality", "lang")


def q_corpus_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed end-to-end training-shard build, oracle-checked: the
    repetition filter (n_words >= 20, distinct_word_frac >= 0.3) feeds
    the deterministic 90/10 train/val hash split, and survivors are
    packed into 512-token sequences per (split, doc_id % 4) shard —
    repetition_metrics ∘ hash_split ∘ pack_fixed_boundary composing in
    one plan: a map-only filter + the map-only split + ONE window
    shuffle. DuckDB rebuilds the identical shard assignment."""
    from turboxsl_spark.functions.text_analysis import repetition_metrics, words_of
    from turboxsl_spark.operators.packing import pack_fixed_boundary
    from turboxsl_spark.operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents").withColumn("w", words_of("text"))
    m = d.select("doc_id", repetition_metrics(F.col("w")).alias("m")).select(
        "doc_id", "m.n_words", "m.distinct_word_frac"
    )
    filt = m.where((F.col("n_words") >= 20) & (F.col("distinct_word_frac") >= 0.3))
    sp = hash_split(filt, "doc_id", {"train": 0.9, "val": 0.1}, salt="shards_v1")
    packed = pack_fixed_boundary(
        sp,
        ["doc_id"],
        "n_words",
        window=512,
        shard_col=F.concat_ws("|", F.col("split"), F.pmod(F.col("doc_id"), F.lit(4))),
    )
    return packed.select(
        "doc_id",
        "split",
        F.pmod(F.col("doc_id"), F.lit(4)).alias("shard"),
        F.col("n_words").cast("long").alias("n_tok"),
        "seq_id",
    ).orderBy("doc_id")


def q_tumbling_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time rollup (the hypertable/continuous-aggregate
    pattern): 1-hour F.window buckets per event_type with count +
    decimal-exact value sums. The same expression runs under
    readStream (F.window is the streaming-compatible group key);
    oracle re-derives buckets with date_trunc. One shuffle, map-side
    partial agg."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("bucket_start", "event_type")
    )


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch per language, oracle-checked EXACTLY
    (not just within error bounds): the k-minimum-values summary is a
    pure function of the md5 key hash, so DuckDB reproduces n_kept,
    the k-th order statistic, and the (k-1)·2^32/h_k estimate
    bit-for-bit. Construction is partition-parallel (per-partition
    min-k prune, then a bounded global order statistic — no task ever
    sees a group's full distinct set)."""
    from turboxsl_spark.operators.sketches import kmv_distinct

    d = _t(spark, sf_dir, "documents")
    return kmv_distinct(d, "lang", "doc_id", k=32, salt="kmv_v1").orderBy("lang")


def q_comment_pi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 xsl:comment / xsl:processing-instruction output
    constructors (reference src/instructions.c:467-478), oracle-checked
    with planted INVALID cases: comment content containing '--' or
    ending '-', PI target 'xml'/non-NCName, PI data containing '?>'.
    Invalid → NULL (the XSLT-1.0 'signal an error' choice, documented
    in functions/strings.py). 'xml-stylesheet' stays a VALID target —
    only the exact name xml is reserved."""
    from turboxsl_spark.functions.strings import xml_comment, xml_pi

    d = _t(spark, sf_dir, "documents")
    frag = F.substring(F.col("text"), 1, 40)
    content = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(frag, F.lit("--x")))
        .when(F.col("doc_id") % 4 == 1, F.concat(frag, F.lit("-")))
        .otherwise(frag)
    )
    target = (
        F.when(F.col("doc_id") % 5 == 0, F.lit("xml"))
        .when(F.col("doc_id") % 5 == 1, F.lit("1bad"))
        .when(F.col("doc_id") % 5 == 2, F.lit("xml-stylesheet"))
        .otherwise(F.lit("app"))
    )
    data = F.when(F.col("doc_id") % 7 == 0, F.lit("x?>y")).otherwise(F.col("source"))
    # no final orderBy (r06): map-only — see q_repetition_profile
    return d.select(
        "doc_id",
        xml_comment(content).alias("comment_node"),
        xml_pi(target, data).alias("pi_node"),
    )


def q_base64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 ltr:encode_base64 — a stub in the reference
    (/root/reference/src/functions.c:908-912 returns a constant);
    real here and oracle-checked."""
    d = _t(spark, sf_dir, "documents")
    # Spark's base64 MIME-chunks with \r\n every 76 chars; strip to RFC 4648
    b64 = F.regexp_replace(F.base64(F.col("text").cast("binary")), "\r\n", "")
    return d.select("doc_id", b64.alias("b64"))


def q_url_escape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 ltr:url_encode / ltr:str_escape('js') as JVM replace chains
    — ORACLE-checked: percent-encoding re-derived in DuckDB SQL
    (per-char regex + UTF-8 hex expansion), js escaping as an ordered
    replace chain; also pinned vs python urllib in tests."""
    from turboxsl_spark.functions.strings import str_escape_js, url_encode

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        url_encode("text").alias("url_enc"),
        str_escape_js("text").alias("js_esc"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "stratified_sample": q_stratified_sample,
        "repetition_profile": q_repetition_profile,
        "exact_quantiles": q_exact_quantiles,
        "agg_pricing": q_agg_pricing,
        "join_revenue_by_nation": q_join_revenue_by_nation,
        "topk_per_group": q_topk_per_group,
        "positional_filter": q_positional_filter,
        "lag_lead": q_lag_lead,
        "sessionize": q_sessionize,
        "forward_fill": q_forward_fill,
        "asof_join": q_asof_join,
        "asof_forward": q_asof_forward,
        "asof_salted": q_asof_salted,
        "asof_salted_fwd": q_asof_salted_fwd,
        "union_all": q_union_all,
        "sort_multikey": q_sort_multikey,
        "string_ops": q_string_ops,
        "numeric_parity": q_numeric_parity,
        "exact_dedup": q_exact_dedup,
        "cosine_topk": q_cosine_topk,
        "group_agg_transcripts": q_group_agg_transcripts,
        "running_window": q_running_window,
        "token_quality": q_token_quality,
        "lang_id": q_lang_id,
        "template_dispatch": q_template_dispatch,
        "existential_eq": q_existential_eq,
        "intersect_except": q_intersect_except,
        "pivot": q_pivot,
        "json_extract": q_json_extract,
        "key_lookup_null": q_key_lookup_null,
        "localize": q_localize,
        "current_corr": q_current_corr,
        "memo_lookup": q_memo_lookup,
        "substring_frac": q_substring_frac,
        "format_number": q_format_number,
        "explode_tokens": q_explode_tokens,
        "response_latency": q_response_latency,
        "minhash_dedup": q_minhash_dedup,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash": q_simhash,
        "fingerprint": q_fingerprint,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "sessionize_salted": q_sessionize_salted,
        "embedding_near_dup": q_embedding_near_dup,
        "multimodal_features": q_multimodal_features,
        "multimodal_meta": q_multimodal_meta,
        "corpus_pipeline": q_corpus_pipeline,
        "decontaminate": q_decontaminate,
        "hash_sample": q_hash_sample,
        "url_escape": q_url_escape,
        "base64": q_base64,
        "pack_sequences": q_pack_sequences,
        "pii_redact": q_pii_redact,
        "comment_pi": q_comment_pi,
        "kmv_distinct": q_kmv_distinct,
        "tumbling_rollup": q_tumbling_rollup,
        "corpus_shards": q_corpus_shards,
        "mix_resample": q_mix_resample,
        "sort_caseorder": q_sort_caseorder,
        "bloom_decontaminate": q_bloom_decontaminate,
        "cm_token_freq": q_cm_token_freq,
    }


_EVENT_WINDOW = "PARTITION BY user_id ORDER BY ts, event_id"


def oracle_sql() -> dict[str, str]:
    d = _oracle_sql_literal()
    # salt-invariance contract: the salted as-of is checked against the
    # IDENTICAL SQL as the plain operator
    d["asof_salted"] = d["asof_join"]
    d["asof_salted_fwd"] = d["asof_forward"]
    d["ann_lsh_topk"] = _ann_lsh_oracle()
    d["embedding_near_dup"] = _embedding_near_dup_oracle()
    # reads the sf-0.01 corpus to re-train the quantizer: a missing
    # corpus or a training error fails loudly instead of silently
    # downgrading this query to rows-only
    d["ann_ivf_topk"] = _ann_ivf_oracle()
    return d


# ---- generated oracles for the md5-twin hash family -----------------
# (see turboxsl_spark/operators/dedup.py "md5 twins": every hash is
# md5-hex-derived, so DuckDB replays signatures/buckets/votes exactly;
# the SQL below is generated — 64 MIN slots / 60 vote SUMs are loops)

def _sig_sentinel() -> int:
    # single source of truth: the same constant the Spark operators use
    from turboxsl_spark.operators.dedup import _SIG_SENTINEL

    return _SIG_SENTINEL


def _simhash_oracle() -> str:
    votes = ",\n                   ".join(
        f"SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(60)
    )
    bits = "\n                 + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(60)
    )
    return f"""
        WITH n AS (
            SELECT doc_id, lower(TRIM(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
            FROM documents),
        t AS (
            SELECT doc_id,
                   unnest(CASE WHEN LENGTH(norm) = 0 THEN CAST([] AS VARCHAR[])
                               ELSE str_split(norm, ' ') END) AS tok
            FROM n),
        h AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(tok), 1, 15)) AS UBIGINT)::BIGINT AS hv
            FROM t),
        v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
        s AS (SELECT doc_id, {bits} AS simhash FROM v)
        SELECT d.doc_id, CAST(COALESCE(s.simhash, 0) AS BIGINT) AS simhash
        FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
    """


def _minhash_dedup_oracle(
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> str:
    from turboxsl_spark.operators.dedup import P48

    r = num_hashes // bands
    gram = " || ' ' || ".join(f"words[i+{j}]" for j in range(shingle_n)).replace(
        "words[i+0]", "words[i]"
    )
    mins = ",\n                   ".join(
        f"MIN((h1 + {j}*h2 + {j * j}) % {P48}) AS m{j}" for j in range(num_hashes)
    )
    sig = "[" + ", ".join(
        f"COALESCE(m{j}, {_sig_sentinel()})" for j in range(num_hashes)
    ) + "]"
    return f"""
        WITH RECURSIVE n AS (
            SELECT doc_id, lower(TRIM(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
            FROM documents),
        w AS (
            SELECT doc_id,
                   CASE WHEN LENGTH(norm) = 0 THEN CAST([] AS VARCHAR[])
                        ELSE str_split(norm, ' ') END AS words
            FROM n),
        shing AS (
            SELECT doc_id,
                   CASE WHEN len(words) = 0 THEN CAST([] AS VARCHAR[])
                        WHEN len(words) < {shingle_n} THEN [array_to_string(words, ' ')]
                        ELSE list_transform(range(1, len(words) - {shingle_n - 2}),
                             i -> {gram})
                   END AS grams
            FROM w),
        srows AS (SELECT doc_id, unnest(grams) AS s FROM shing),
        hh AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(s), 1, 12)) AS UBIGINT)::BIGINT AS h1,
                   CAST(('0x' || substr(md5(s), 13, 12)) AS UBIGINT)::BIGINT AS h2
            FROM srows),
        sigs0 AS (SELECT doc_id, {mins} FROM hh GROUP BY doc_id),
        sigs AS (
            SELECT d.doc_id, {sig} AS sig
            FROM documents d LEFT JOIN sigs0 ON d.doc_id = sigs0.doc_id),
        bnd AS (
            SELECT doc_id, b.band,
                   md5(array_to_string(list_transform(
                       list_slice(sig, b.band*{r}+1, b.band*{r}+{r}),
                       x -> CAST(x AS VARCHAR)), ',')) AS bucket
            FROM sigs, (SELECT unnest(range(0, {bands})) AS band) b),
        cand AS (
            SELECT a.doc_id AS id_a, b2.doc_id AS id_b
            FROM bnd a JOIN bnd b2
              ON a.band = b2.band AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
            GROUP BY 1, 2),
        shd AS (
            -- COALESCE mirrors the Spark side (operators/dedup.py
            -- ngram_jaccard): NULL text => EMPTY shingle set, so two
            -- contentless docs verify as jaccard 1.0 on BOTH engines
            -- (without it DuckDB keeps shset NULL -> NULL jaccard ->
            -- silently not-a-dup while Spark says dup)
            SELECT doc_id,
                   COALESCE(list_distinct(list_transform(grams, x -> md5(x))),
                            CAST([] AS VARCHAR[])) AS shset
            FROM shing),
        dup AS (
            SELECT cand.id_a, cand.id_b
            FROM cand
            JOIN shd sa ON sa.doc_id = cand.id_a
            JOIN shd sb ON sb.doc_id = cand.id_b
            WHERE (CASE WHEN len(list_distinct(list_concat(sa.shset, sb.shset))) = 0
                        THEN 1.0
                        ELSE len(list_intersect(sa.shset, sb.shset))::DOUBLE
                             / len(list_distinct(list_concat(sa.shset, sb.shset)))
                   END) >= {threshold}),
        und AS (SELECT id_a AS a, id_b AS b FROM dup
                UNION SELECT id_b, id_a FROM dup),
        reach AS (SELECT a, b FROM und
                  UNION
                  SELECT r2.a, u.b FROM reach r2 JOIN und u ON r2.b = u.a),
        rep AS (SELECT a AS node, least(a, MIN(b)) AS rep FROM reach GROUP BY a)
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT node FROM rep WHERE rep < node)
        ORDER BY doc_id
    """


def _sql_dot(a: str, b: str, dim: int = _EMB_DIM, cast_a: bool = True, cast_b: bool = True) -> str:
    """Sequential-fold dot product in DuckDB — replays
    ``similarity._dot`` with the SAME IEEE op order, so the doubles are
    bit-identical (list_sum / numpy matmul would reassociate and drift
    in the last ulp)."""
    xa = f"CAST({a}[j] AS DOUBLE)" if cast_a else f"{a}[j]"
    xb = f"CAST({b}[j] AS DOUBLE)" if cast_b else f"{b}[j]"
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {dim + 1}), "
        f"j -> {xa} * {xb})), (a, b) -> a + b)"
    )


def _sql_cosine(a: str, b: str, dim: int = _EMB_DIM) -> str:
    return (
        f"({_sql_dot(a, b, dim)} / "
        f"(sqrt({_sql_dot(a, a, dim)}) * sqrt({_sql_dot(b, b, dim)})))"
    )


def _ann_lsh_oracle(k: int = 5, nbits: int = 8, dim: int = _EMB_DIM, seed: int = 7) -> str:
    """Full replay of q_ann_lsh_topk: the seeded hyperplanes are
    plan-time literals, so bucketing (sign-bit sums), Hamming-1
    multiprobe, in-bucket exact cosine, and the top-k window are all
    one DuckDB statement."""
    from turboxsl_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(nbits, dim, seed)
    vals = ",\n                ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in p)}])"
        for i, p in enumerate(planes)
    )
    dq = _sql_dot("e.embedding", "p.pl", dim, cast_b=False)
    cos = _sql_cosine("c.embedding", "q.embedding", dim)
    return f"""
        WITH planes(i, pl) AS (VALUES
                {vals}),
        db AS (
            SELECT e.vec_id, e.embedding,
                   SUM(CASE WHEN {dq} > 0
                            THEN (CAST(1 AS BIGINT) << p.i) ELSE 0 END) AS bucket
            FROM embeddings e CROSS JOIN planes p
            GROUP BY e.vec_id, e.embedding),
        probes AS (
            SELECT vec_id AS q_id, embedding,
                   unnest(list_prepend(bucket,
                       list_transform(range(0, {nbits}),
                                      i -> xor(bucket, CAST(1 AS BIGINT) << i)))) AS bucket
            FROM db WHERE vec_id < 3),
        scored AS (
            SELECT DISTINCT q.q_id, c.vec_id, {cos} AS cos_sim
            FROM db c JOIN probes q USING (bucket)),
        ranked AS (
            SELECT q_id, vec_id, cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cos_sim DESC, vec_id ASC) AS rank
            FROM scored)
        SELECT q_id, vec_id, ROUND(cos_sim, 6) AS cos_sim, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= {k}
    """


def _ann_ivf_oracle(
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 7,
    sample_size: int = 2000,
    sf_dir: str | None = None,
    dim: int = _EMB_DIM,
) -> str:
    """Full replay of q_ann_ivf_topk. The centroids are a deterministic
    function of (vec_id-ordered corpus head, seed): ivf_topk skips the
    fraction-1.0 sample, so this generator re-trains the IDENTICAL
    k-means via pyarrow+numpy and emits the centroids as SQL literals;
    corpus and query assignment replay the sequential-fold dots.

    ``sf_dir`` must be the SAME corpus the gate registers as the
    ``embeddings`` view — the driver's gate is contractually sf0.01, so
    that is the default; a gate running elsewhere sets
    ``$SPARK_GRAFT_ORACLE_SF_DIR`` (tools/check_oracle.py does) so the
    trained centroids match the gated corpus instead of silently
    diverging (ADVICE r04)."""
    import numpy as np
    import pyarrow.parquet as pq

    from turboxsl_spark.operators.similarity import _kmeans_centroids

    if sf_dir is None:
        sf_dir = os.environ.get(
            "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
        )
    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = tbl.column("vec_id").to_pylist()
    all_rows = tbl.column("embedding").to_pylist()
    if len(all_rows) > 2 * sample_size:
        # ivf_topk would take the seeded-sample training path, which
        # this replay cannot reproduce — degrade to rows-only (caller
        # catches) rather than emit a WRONG oracle
        raise RuntimeError(
            f"corpus has {len(all_rows)} rows > {2 * sample_size}: "
            "seeded-sample training is not replayable"
        )
    # mirror ivf_topk's orderBy(vec_id).limit(sample_size) training
    # slice — id-sorted, not file-ordered, so both sides stay
    # deterministic on any partition layout (ADVICE r04)
    order = sorted(range(len(ids)), key=lambda i: ids[i])
    emb = np.array(
        [all_rows[i] for i in order[:sample_size]], dtype=np.float64
    )
    cents = _kmeans_centroids(emb, max(1, min(n_centroids, len(emb))), seed)
    vals = ",\n                ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}])"
        for i, c in enumerate(cents)
    )
    dq = _sql_dot("e.embedding", "ci.c", dim, cast_b=False)
    cos = _sql_cosine("c.embedding", "q.embedding", dim)
    return f"""
        WITH cents(i, c) AS (VALUES
                {vals}),
        d AS (
            SELECT e.vec_id, e.embedding, ci.i, {dq} AS d
            FROM embeddings e CROSS JOIN cents ci),
        cassign AS (
            SELECT vec_id, embedding, i AS lst FROM (
                SELECT vec_id, embedding, i, d,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY d DESC, i ASC) AS rn
                FROM d) t
            WHERE rn = 1),
        qassign AS (
            SELECT vec_id AS q_id, embedding, i AS lst FROM (
                SELECT vec_id, embedding, i, d,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY d DESC, i ASC) AS rn
                FROM d WHERE vec_id < 3) t
            WHERE rn <= {nprobe}),
        scored AS (
            SELECT DISTINCT q.q_id, c.vec_id, {cos} AS cos_sim
            FROM cassign c JOIN qassign q USING (lst)),
        ranked AS (
            SELECT q_id, vec_id, cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cos_sim DESC, vec_id ASC) AS rank
            FROM scored)
        SELECT q_id, vec_id, ROUND(cos_sim, 6) AS cos_sim, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= {k}
    """


def _embedding_near_dup_oracle(
    nbits: int = 36,
    bands: int = 6,
    seed: int = 7,
    dim: int = _EMB_DIM,
    threshold: float = 0.95,
    max_bucket: int = 100_000,
) -> str:
    """Full replay of q_embedding_near_dup: md5-noise planted twins →
    literal hyperplanes → sign-bit signature → band buckets →
    oversized-bucket cap → bucket self-join → exact-cosine verify."""
    from turboxsl_spark.operators.similarity import _hyperplanes

    r = nbits // bands
    planes = _hyperplanes(nbits, dim, seed)
    vals = ",\n                ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in p)}])"
        for i, p in enumerate(planes)
    )
    dq = _sql_dot("e.embedding", "p.pl", dim, cast_b=False)
    cos = _sql_cosine("c.ea", "c.eb", dim)
    noise = (
        "(CAST(('0x' || substr(md5(CAST(vec_id + 1000000 AS VARCHAR) || ':' || "
        "CAST(j - 1 AS VARCHAR)), 1, 15)) AS UBIGINT)::BIGINT"
        f" / {float(1 << 60)!r} - 0.5) * 0.03"
    )
    return f"""
        WITH planes(i, pl) AS (VALUES
                {vals}),
        base AS (SELECT vec_id, embedding FROM embeddings),
        twins AS (
            SELECT vec_id + 1000000 AS vec_id, emb2 AS embedding FROM (
                SELECT vec_id,
                       list_transform(range(1, {dim + 1}), j ->
                           CAST(CAST(embedding[j] AS DOUBLE) + {noise} AS FLOAT)
                       ) AS emb2
                FROM base WHERE vec_id % 10 = 0) t),
        planted AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
        sigs AS (
            SELECT e.vec_id, e.embedding,
                   SUM(CASE WHEN {dq} > 0
                            THEN (CAST(1 AS BIGINT) << p.i) ELSE 0 END) AS sig
            FROM planted e CROSS JOIN planes p
            GROUP BY e.vec_id, e.embedding),
        bnd AS (
            SELECT vec_id, embedding, b.band,
                   (sig >> (b.band * {r})) & {(1 << r) - 1} AS bkt
            FROM sigs, (SELECT unnest(range(0, {bands})) AS band) b),
        ok AS (SELECT band, bkt FROM bnd GROUP BY band, bkt
               HAVING COUNT(*) <= {max_bucket}),
        bnd2 AS (SELECT bnd.* FROM bnd JOIN ok USING (band, bkt)),
        c AS (
            SELECT a.vec_id AS id_a, a.embedding AS ea,
                   b2.vec_id AS id_b, b2.embedding AS eb
            FROM bnd2 a JOIN bnd2 b2
              ON a.band = b2.band AND a.bkt = b2.bkt AND a.vec_id < b2.vec_id
            GROUP BY 1, 2, 3, 4),
        scored AS (SELECT id_a, id_b, {cos} AS cos_sim FROM c)
        SELECT id_a, id_b, ROUND(cos_sim, 6) AS cos_sim
        FROM scored WHERE cos_sim >= {threshold}
        ORDER BY id_a, id_b
    """


def _oracle_sql_literal() -> dict[str, str]:
    return {
        "agg_pricing": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "join_revenue_by_nation": """
            SELECT n_name,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "topk_per_group": """
            SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       ROW_NUMBER() OVER (PARTITION BY o_custkey
                                          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
                FROM orders) t
            WHERE rk <= 3
        """,
        "positional_filter": """
            SELECT l_orderkey, l_partkey, l_quantity FROM (
                SELECT l_orderkey, l_partkey, l_quantity,
                       ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                          ORDER BY l_linenumber, l_partkey, l_extendedprice) AS pos
                FROM lineitem) t
            WHERE pos = 2
        """,
        "lag_lead": f"""
            SELECT user_id, event_id, value,
                   LAG(value, 1) OVER ({_EVENT_WINDOW}) AS value_lag1,
                   LAG(value, 2) OVER ({_EVENT_WINDOW}) AS value_lag2,
                   LEAD(value, 1) OVER ({_EVENT_WINDOW}) AS value_lead1,
                   (epoch_us(ts) - LAG(epoch_us(ts), 1) OVER ({_EVENT_WINDOW})) / 1e6 AS gap_s
            FROM events
        """,
        "sessionize": f"""
            WITH g AS (
                SELECT user_id, event_id, ts,
                       (epoch_us(ts) - LAG(epoch_us(ts), 1) OVER ({_EVENT_WINDOW})) / 1e6 AS gap_s
                FROM events),
            s AS (
                SELECT user_id, event_id, ts,
                       CAST(SUM(CASE WHEN gap_s > 1800 THEN 1 ELSE 0 END)
                            OVER ({_EVENT_WINDOW} ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
                FROM g)
            SELECT user_id, session_id, COUNT(*) AS n_events,
                   MIN(ts) AS session_start, MAX(ts) AS session_end
            FROM s GROUP BY user_id, session_id
        """,
        "forward_fill": f"""
            WITH m AS (
                SELECT user_id, event_id, ts,
                       CASE WHEN event_id % 5 = 0 THEN props END AS marker
                FROM events)
            SELECT user_id, event_id, marker,
                   LAST_VALUE(marker IGNORE NULLS)
                       OVER ({_EVENT_WINDOW} ROWS UNBOUNDED PRECEDING) AS marker_ffill
            FROM m
        """,
        "asof_join": f"""
            WITH u AS (
                SELECT user_id, ts, 1 AS side, event_id AS seq,
                       value AS fact_value, NULL::BIGINT AS spine_event_id
                FROM events WHERE event_type = 'click'
                UNION ALL
                SELECT user_id, ts, 0 AS side, 0 AS seq,
                       NULL::DOUBLE AS fact_value, event_id AS spine_event_id
                FROM events),
            f AS (
                SELECT user_id, spine_event_id, side,
                       LAST_VALUE(fact_value IGNORE NULLS)
                           OVER (PARTITION BY user_id ORDER BY ts, side, seq
                                 ROWS UNBOUNDED PRECEDING) AS fact_value_asof
                FROM u)
            SELECT user_id, spine_event_id AS event_id, fact_value_asof
            FROM f WHERE side = 0
        """,
        "asof_forward": """
            WITH u AS (
                SELECT user_id, ts, 0 AS side, event_id AS seq,
                       value AS fact_value, NULL::BIGINT AS spine_event_id
                FROM events WHERE event_type = 'click'
                UNION ALL
                SELECT user_id, ts, 1 AS side, 0 AS seq,
                       NULL::DOUBLE AS fact_value, event_id AS spine_event_id
                FROM events),
            f AS (
                SELECT user_id, spine_event_id, side,
                       FIRST_VALUE(fact_value IGNORE NULLS)
                           OVER (PARTITION BY user_id ORDER BY ts, side, seq
                                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                           AS fact_value_next
                FROM u)
            SELECT user_id, spine_event_id AS event_id, fact_value_next
            FROM f WHERE side = 1
        """,
        "union_all": """
            SELECT l_orderkey, l_linenumber, 'hi' AS src FROM lineitem WHERE l_quantity >= 45
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'lo' AS src FROM lineitem WHERE l_quantity <= 5
        """,
        "sort_multikey": """
            SELECT p_partkey,
                   ROW_NUMBER() OVER (ORDER BY LOWER(p_type) ASC, p_retailprice DESC,
                                      p_partkey ASC) AS sort_rank
            FROM part
        """,
        "sort_caseorder": """
            -- lower-first = case-insensitive primary + raw-key DESC
            -- tiebreak (ASCII lower = upper + 32, so byte-descending
            -- puts the lowercase variant first at the first differing
            -- position); both engines compare strings by binary
            -- collation, so the tiebreak is portable
            WITH k AS (
                SELECT p_partkey,
                       CASE WHEN p_partkey % 2 = 0 THEN LOWER(p_type)
                            ELSE p_type END AS skey
                FROM part)
            SELECT p_partkey, skey,
                   ROW_NUMBER() OVER (ORDER BY LOWER(skey) ASC, skey DESC,
                                      p_partkey ASC) AS sort_rank
            FROM k
        """,
        "string_ops": """
            WITH n AS (
                SELECT doc_id, TRIM(regexp_replace(text, '\\s+', ' ', 'g')) AS text_norm
                FROM documents)
            SELECT doc_id, text_norm,
                   LENGTH(text_norm) AS norm_len,
                   translate(text_norm, 'aeiou', 'AEIO') AS translated,
                   substring(text_norm, 1, 20) AS head20,
                   CASE WHEN contains(text_norm, ' ')
                        THEN split_part(text_norm, ' ', 1) ELSE '' END AS first_word,
                   CASE WHEN contains(text_norm, ' ')
                        THEN substring(text_norm, length(split_part(text_norm, ' ', 1)) + 2)
                        ELSE '' END AS rest,
                   contains(text_norm, 'the') AS has_the,
                   md5(text_norm) AS norm_md5
            FROM n
        """,
        "numeric_parity": """
            SELECT l_orderkey, l_linenumber,
                   FLOOR(l_extendedprice * l_discount + 0.5) AS rounded,
                   l_orderkey % 7 AS mod7,
                   CASE WHEN l_quantity = CAST(l_quantity AS BIGINT)
                        THEN CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
                        ELSE CAST(l_quantity AS VARCHAR) END AS qty_str
            FROM lineitem
        """,
        "exact_dedup": """
            SELECT md5(TRIM(regexp_replace(text, '\\s+', ' ', 'g'))) AS text_hash,
                   MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_dupes
            FROM documents
            GROUP BY 1
        """,
        "cosine_topk": """
            WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
            scored AS (
                SELECT e.vec_id,
                       ROUND(list_dot_product(e.embedding::DOUBLE[], q.q_emb::DOUBLE[]) /
                             (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                              sqrt(list_dot_product(q.q_emb::DOUBLE[], q.q_emb::DOUBLE[]))), 6) AS cos_sim
                FROM embeddings e, q WHERE e.vec_id <> 0)
            SELECT vec_id, cos_sim FROM scored
            ORDER BY cos_sim DESC, vec_id ASC LIMIT 5
        """,
        "group_agg_transcripts": """
            WITH t AS (
                SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id, ts,
                       props AS text,
                       CASE WHEN event_id % 5 = 0 THEN event_type END AS tool,
                       event_id
                FROM events),
            g AS (
                SELECT conv_id, text, tool, ts, event_id,
                       (epoch_us(ts) - LAG(epoch_us(ts), 1)
                            OVER (PARTITION BY conv_id ORDER BY ts, event_id)) / 1e6 AS gap_s
                FROM t),
            s AS (
                SELECT conv_id, text, tool,
                       SUM(CASE WHEN gap_s > 1800 THEN 1 ELSE 0 END)
                           OVER (PARTITION BY conv_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
                FROM g)
            SELECT conv_id, COUNT(*) AS n_turns,
                   CAST(MAX(session_id) + 1 AS BIGINT) AS n_sessions,
                   CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
                   COUNT(tool) AS n_tool_turns
            FROM s GROUP BY conv_id
        """,
        "running_window": f"""
            SELECT user_id, event_id,
                   ROW_NUMBER() OVER ({_EVENT_WINDOW}) AS pos,
                   COUNT(*) OVER (PARTITION BY user_id) AS last_pos,
                   ROUND(SUM(value) OVER ({_EVENT_WINDOW} ROWS UNBOUNDED PRECEDING), 6)
                       AS running_value
            FROM events
        """,
        "template_dispatch": """
            SELECT CASE WHEN event_type IN ('click','view') THEN 'browse'
                        WHEN event_type IN ('purchase','signup') THEN 'convert'
                        ELSE 'other' END AS category,
                   COUNT(*) AS n,
                   ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value * 2
                                  WHEN event_type = 'error' THEN 0.0
                                  ELSE value END), 4) AS sum_adj
            FROM events GROUP BY 1
        """,
        "existential_eq": """
            WITH g AS (
                SELECT user_id, list(DISTINCT event_type) AS types
                FROM events GROUP BY user_id)
            SELECT user_id,
                   list_contains(types, 'purchase') AS has_purchase,
                   list_has_any(types, ['error','signup']) AS has_err_or_signup,
                   CAST(len(types) AS BIGINT) AS n_types
            FROM g
        """,
        "intersect_except": """
            WITH hi AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_quantity >= 45),
                 lo AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_quantity <= 5)
            SELECT l_orderkey, 'both' AS tag FROM (SELECT * FROM hi INTERSECT SELECT * FROM lo)
            UNION ALL
            SELECT l_orderkey, 'hi_only' AS tag FROM (SELECT * FROM hi EXCEPT SELECT * FROM lo)
        """,
        "pivot": """
            SELECT o_orderpriority,
                   CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
                   CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
                   CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_partial
            FROM orders GROUP BY o_orderpriority
        """,
        "json_extract": """
            SELECT event_type,
                   COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                   MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
            FROM events GROUP BY event_type
        """,
        "key_lookup_null": """
            SELECT l_returnflag,
                   COUNT(*) AS n_lines,
                   COUNT(p_brand) AS n_matched,
                   CAST(SUM(CASE WHEN p_brand IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
            FROM lineitem
            LEFT JOIN (SELECT p_partkey, p_brand FROM part WHERE p_size >= 40) p
                   ON l_partkey = p_partkey
            GROUP BY l_returnflag
        """,
        "localize": """
            SELECT event_id,
                   CASE event_type WHEN 'click' THEN 'Clicked'
                                   WHEN 'view' THEN 'Viewed'
                                   WHEN 'purchase' THEN 'Purchased'
                                   WHEN 'signup' THEN 'Signed up'
                                   WHEN 'error' THEN 'Failed'
                                   ELSE event_type END AS label,
                   CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) = 1
                        THEN json_extract_string(props, '$.k') || ' item'
                        ELSE json_extract_string(props, '$.k') || ' items' END AS items_text
            FROM events
        """,
        "base64": """
            SELECT doc_id, to_base64(text::BLOB) AS b64 FROM documents
        """,
        "url_escape": r"""
            SELECT doc_id,
                   list_aggregate(list_transform(
                       regexp_split_to_array(text, ''), ch ->
                       CASE WHEN regexp_matches(ch, '^[A-Za-z0-9_.~-]$') THEN ch
                            ELSE regexp_replace(hex(encode(ch)), '(..)', '%\1', 'g')
                       END), 'string_agg', '') AS url_enc,
                   replace(replace(replace(replace(replace(replace(text,
                       '\', '\\'), '''', '\'''), '"', '\"'),
                       chr(10), '\n'), chr(13), '\r'), chr(9), '\t') AS js_esc
            FROM documents WHERE doc_id < 100
        """,
        "format_number": """
            WITH c AS (
                SELECT l_orderkey, l_linenumber,
                       CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
                FROM lineitem WHERE l_orderkey < 200)
            SELECT l_orderkey, l_linenumber,
                   printf('%,d', cents // 100) || '.' ||
                   printf('%02d', cents % 100) AS price_fmt
            FROM c
        """,
        "multimodal_meta": """
            -- invariant oracle: EVERY row's JVM-decoded header (PNG
            -- IHDR / WAV fmt / MP4 stub-layout boxes) must match its
            -- recorded meta struct
            SELECT CAST(media_id AS BIGINT) AS media_id,
                   CASE media_id % 3 WHEN 0 THEN 'image'
                                     WHEN 1 THEN 'audio'
                                     ELSE 'video' END AS kind,
                   true AS hdr_ok
            FROM range(0, 48) t(media_id)
        """,
        "corpus_pipeline": """
            WITH n AS (
                SELECT doc_id, text,
                       TRIM(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
                FROM documents),
            wq AS (
                SELECT doc_id, text, norm,
                       str_split(lower(norm), ' ') AS words,
                       LENGTH(text) AS nc,
                       LENGTH(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS letters
                FROM n),
            cq AS (
                SELECT doc_id, norm, words,
                       CAST(CASE WHEN nc BETWEEN 20 AND 20000 THEN 0.25 ELSE 0.0 END
                        + CASE WHEN (CASE WHEN nc > 0 THEN letters::DOUBLE / nc ELSE 0.0 END) >= 0.6
                               THEN 0.25 ELSE 0.0 END
                        + CASE WHEN len(list_filter(words, x -> x IN
                              ('the','and','of','to','in','is','that','it','was','for'))) >= 2
                               THEN 0.25 ELSE 0.0 END
                        + CASE WHEN (CASE WHEN len(words) > 0
                                     THEN list_sum(list_transform(words, x -> LENGTH(x)))::DOUBLE / len(words)
                                     ELSE 0.0 END) BETWEEN 2.5 AND 12.0 THEN 0.25 ELSE 0.0 END
                        AS DOUBLE) AS quality
                FROM wq),
            cl AS (
                SELECT doc_id,
                       len(list_filter(words, x -> x IN ('the','and','of','to','in','is','that','it','was','for'))) AS s_en,
                       len(list_filter(words, x -> x IN ('der','die','und','das','ist','ein','nicht','mit','sich','auf'))) AS s_de,
                       len(list_filter(words, x -> x IN ('le','la','les','et','des','est','une','dans','que','pour'))) AS s_fr,
                       len(list_filter(words, x -> x IN ('el','la','los','y','de','que','en','un','una','por'))) AS s_es,
                       len(list_filter(words, x -> x IN ('il','la','che','di','e','un','una','per','con','del'))) AS s_it
                FROM cq),
            lang AS (
                SELECT doc_id,
                       CASE WHEN GREATEST(s_en, s_de, s_fr, s_es, s_it) = 0 THEN 'und'
                            WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es, s_it) THEN 'en'
                            WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es, s_it) THEN 'de'
                            WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es, s_it) THEN 'fr'
                            WHEN s_es = GREATEST(s_en, s_de, s_fr, s_es, s_it) THEN 'es'
                            ELSE 'it' END AS lang
                FROM cl),
            kept AS (
                SELECT cq.doc_id, cq.quality, lang.lang, md5(cq.norm) AS h
                FROM cq JOIN lang USING (doc_id)
                WHERE cq.quality >= 0.5 AND lang.lang = 'en'),
            r AS (
                SELECT doc_id, quality, lang,
                       ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
                FROM kept)
            SELECT doc_id, quality, lang FROM r WHERE rn = 1
        """,
        "ngram_jaccard": """
            WITH n AS (
                SELECT doc_id, lower(TRIM(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
                FROM documents),
            w AS (
                SELECT doc_id,
                       CASE WHEN LENGTH(norm) = 0 THEN CAST([] AS VARCHAR[])
                            ELSE str_split(norm, ' ') END AS words
                FROM n),
            s AS (
                SELECT doc_id,
                       list_distinct(
                           CASE WHEN len(words) = 0 THEN CAST([] AS VARCHAR[])
                                WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
                                ELSE list_transform(range(1, len(words) - 1),
                                     i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                           END) AS sh
                FROM w)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 1.0
                              ELSE len(list_intersect(a.sh, b.sh))::DOUBLE
                                   / len(list_distinct(list_concat(a.sh, b.sh))) END, 6)
                       AS jaccard
            FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
        """,
        "minhash_dedup": _minhash_dedup_oracle(),
        "simhash": _simhash_oracle(),
        "fingerprint": """
            WITH w AS (
                SELECT doc_id,
                       string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS words
                FROM documents),
            g AS (
                SELECT doc_id,
                       CASE WHEN len(words) < 4 THEN [md5(array_to_string(words, ' '))]
                            ELSE list_transform(range(1, len(words) - 2),
                                 i -> md5(words[i] || ' ' || words[i+1] || ' ' ||
                                          words[i+2] || ' ' || words[i+3]))
                       END AS grams
                FROM w)
            SELECT doc_id,
                   list_reduce(list_prepend('', grams),
                               (a, g2) -> md5(a || ':' || g2)) AS fp_md5
            FROM g
        """,
        "hash_sample": f"""
            WITH h AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5('corpus_v1' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS hs,
                       CAST(('0x' || substr(md5('split_v1' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS hp
                FROM documents)
            SELECT doc_id,
                   CASE WHEN hp < {int(0.7 * 2**32)} THEN 'train'
                        WHEN hp < {int((0.7 + 0.2) * 2**32)} THEN 'val'
                        ELSE 'test' END AS split
            FROM h WHERE hs < {int(0.3 * 2**32)}
        """,
        "corpus_shards": f"""
            WITH w AS (
                SELECT doc_id,
                       string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS ws
                FROM documents),
            m AS (
                SELECT doc_id, len(ws) AS n,
                       CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dwf
                FROM w WHERE len(ws) > 0),
            filt AS (SELECT doc_id, n FROM m WHERE n >= 20 AND dwf >= 0.3),
            sp AS (
                SELECT doc_id, n,
                       CASE WHEN CAST(('0x' || substr(md5('shards_v1' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                                 < {int(0.9 * 2**32)} THEN 'train' ELSE 'val' END AS split
                FROM filt)
            SELECT doc_id, split, CAST(doc_id % 4 AS BIGINT) AS shard,
                   CAST(n AS BIGINT) AS n_tok,
                   CAST(FLOOR((SUM(n) OVER (PARTITION BY split, doc_id % 4 ORDER BY doc_id) - n) / 512.0) AS BIGINT) AS seq_id
            FROM sp ORDER BY doc_id
        """,
        "tumbling_rollup": """
            SELECT date_trunc('hour', ts) AS bucket_start,
                   event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events
            GROUP BY 1, 2
            ORDER BY bucket_start, event_type
        """,
        "kmv_distinct": f"""
            WITH h AS (
                SELECT DISTINCT lang,
                       CAST(('0x' || substr(md5('kmv_v1' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) AS hv
                FROM documents),
            r AS (SELECT lang, hv, row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn FROM h),
            k AS (SELECT lang, COUNT(*) AS cnt, MAX(hv) AS hk FROM r WHERE rn <= 32 GROUP BY lang)
            SELECT lang, CAST(cnt AS BIGINT) AS n_kept, CAST(hk AS BIGINT) AS kth_hash,
                   CASE WHEN cnt < 32 THEN CAST(cnt AS DOUBLE)
                        ELSE {float(31 << 32)!r} / hk END AS distinct_est
            FROM k ORDER BY lang
        """,
        "bloom_decontaminate": r"""
            -- full replay of the 1024-bit/4-hash Bloom filter: same md5
            -- double hashing (48-bit halves), same 32-bit words, same
            -- bit_or build and bool_and probe — false positives and all
            WITH nrm AS (
                SELECT doc_id,
                       COALESCE(lower(TRIM(regexp_replace(text, '\s+', ' ', 'g'))),
                                chr(0) || 'null') AS nt
                FROM documents),
            h AS (
                SELECT doc_id, nt,
                       CAST(('0x' || substr(md5('bloom_v1' || chr(31) || nt), 1, 12)) AS UBIGINT)::BIGINT AS h1,
                       CAST(('0x' || substr(md5('bloom_v1' || chr(31) || nt), 13, 12)) AS UBIGINT)::BIGINT AS h2
                FROM nrm),
            bpos AS (
                SELECT (h1 + j * h2) % 1024 AS p
                FROM h, (SELECT unnest(range(0, 4)) AS j) js
                WHERE doc_id % 17 = 0),
            words AS (
                SELECT CAST(p // 32 AS INTEGER) AS word,
                       bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS bits
                FROM bpos GROUP BY 1),
            ppos AS (
                SELECT doc_id, (h1 + j * h2) % 1024 AS p
                FROM h, (SELECT unnest(range(0, 4)) AS j) js),
            probe AS (
                SELECT doc_id,
                       BOOL_AND((COALESCE(w.bits, 0)
                                 & (1::BIGINT << CAST(p % 32 AS INTEGER))) <> 0) AS bloom_hit
                FROM ppos LEFT JOIN words w ON w.word = CAST(p // 32 AS INTEGER)
                GROUP BY doc_id),
            bset AS (SELECT DISTINCT nt FROM h WHERE doc_id % 17 = 0)
            SELECT h.doc_id, probe.bloom_hit,
                   (h.nt IN (SELECT nt FROM bset)) AS exact_hit
            FROM h JOIN probe USING (doc_id)
            ORDER BY doc_id
        """,
        "cm_token_freq": r"""
            -- full replay of the 4x512 Count-Min sketch: identical md5
            -- double-hash counter indices, identical counts, identical
            -- min-over-rows estimates (collision overcounts included)
            WITH n AS (
                SELECT doc_id,
                       lower(TRIM(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
                FROM documents),
            tok0 AS (SELECT doc_id, unnest(str_split(norm, ' ')) AS tok FROM n),
            tok2 AS (SELECT doc_id, tok FROM tok0 WHERE LENGTH(tok) > 0),
            h AS (
                SELECT tok,
                       CAST(('0x' || substr(md5('cm_v1' || chr(31) || tok), 1, 12)) AS UBIGINT)::BIGINT AS h1,
                       CAST(('0x' || substr(md5('cm_v1' || chr(31) || tok), 13, 12)) AS UBIGINT)::BIGINT AS h2
                FROM (SELECT DISTINCT tok FROM tok2)),
            cpos AS (
                SELECT t.tok, js.j, (h.h1 + js.j * h.h2) % 512 AS idx
                FROM tok2 t JOIN h ON h.tok = t.tok
                CROSS JOIN (SELECT unnest(range(0, 4)) AS j) js),
            counters AS (SELECT j, idx, COUNT(*) AS cnt FROM cpos GROUP BY 1, 2),
            probe AS (SELECT DISTINCT tok FROM tok2 WHERE doc_id % 97 = 0),
            ppos AS (
                SELECT p.tok, js.j, (h.h1 + js.j * h.h2) % 512 AS idx
                FROM probe p JOIN h ON h.tok = p.tok
                CROSS JOIN (SELECT unnest(range(0, 4)) AS j) js),
            est AS (
                SELECT ppos.tok, MIN(COALESCE(c.cnt, 0)) AS cm_est
                FROM ppos LEFT JOIN counters c ON c.j = ppos.j AND c.idx = ppos.idx
                GROUP BY 1),
            exact AS (SELECT tok, COUNT(*) AS exact_cnt FROM tok2 GROUP BY tok)
            SELECT est.tok, CAST(est.cm_est AS BIGINT) AS cm_est,
                   CAST(exact.exact_cnt AS BIGINT) AS exact_cnt
            FROM est JOIN exact USING (tok)
            ORDER BY tok
        """,
        "comment_pi": r"""
            WITH t AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 4 = 0 THEN substr(text, 1, 40) || '--x'
                            WHEN doc_id % 4 = 1 THEN substr(text, 1, 40) || '-'
                            ELSE substr(text, 1, 40) END AS content,
                       CASE WHEN doc_id % 5 = 0 THEN 'xml'
                            WHEN doc_id % 5 = 1 THEN '1bad'
                            WHEN doc_id % 5 = 2 THEN 'xml-stylesheet'
                            ELSE 'app' END AS target,
                       CASE WHEN doc_id % 7 = 0 THEN 'x?>y' ELSE source END AS data
                FROM documents)
            SELECT doc_id,
                   CASE WHEN content LIKE '%--%' OR content LIKE '%-' THEN NULL
                        ELSE '<!--' || content || '-->' END AS comment_node,
                   CASE WHEN NOT regexp_matches(target, '^[A-Za-z_][A-Za-z0-9._\-]*$')
                             OR lower(target) = 'xml'
                             OR data LIKE '%?>%' THEN NULL
                        ELSE '<?' || target || ' ' || data || '?>' END AS pi_node
            FROM t ORDER BY doc_id
        """,
        "pii_redact": r"""
            WITH inj AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 3 = 0 THEN
                            text || ' contact user' || CAST(doc_id AS VARCHAR)
                                 || '@example.org ip 10.' || CAST(doc_id % 200 AS VARCHAR)
                                 || '.0.1 call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                                 || ' acct 9' || lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0')
                       ELSE text END AS t
                FROM documents),
            s1 AS (SELECT doc_id,
                          CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                          regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
                   FROM inj),
            s2 AS (SELECT doc_id, n_email,
                          CAST(len(regexp_extract_all(t, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ip,
                          regexp_replace(t, '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t
                   FROM s1),
            s3 AS (SELECT doc_id, n_email, n_ip,
                          CAST(len(regexp_extract_all(t, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS BIGINT) AS n_phone,
                          regexp_replace(t, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS t
                   FROM s2),
            s4 AS (SELECT doc_id, n_email, n_ip, n_phone,
                          CAST(len(regexp_extract_all(t, '\b\d{9,}\b')) AS BIGINT) AS n_number,
                          regexp_replace(t, '\b\d{9,}\b', '<NUMBER>', 'g') AS t
                   FROM s3)
            SELECT doc_id, t AS redacted, n_email, n_ip, n_phone, n_number
            FROM s4 ORDER BY doc_id
        """,
        "pack_sequences": r"""
            WITH t AS (
                SELECT doc_id, doc_id % 8 AS shard,
                       CASE WHEN length(trim(regexp_replace(text, '\s+', ' ', 'g'))) = 0 THEN 0
                            ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END AS n_tok
                FROM documents)
            SELECT doc_id, CAST(shard AS BIGINT) AS shard,
                   CAST(n_tok AS BIGINT) AS n_tok,
                   CAST(SUM(n_tok) OVER w - n_tok AS BIGINT) AS start_tok,
                   CAST(FLOOR((SUM(n_tok) OVER w - n_tok) / 256.0) AS BIGINT) AS seq_id
            FROM t
            WINDOW w AS (PARTITION BY shard ORDER BY doc_id)
            ORDER BY doc_id
        """,
        "exact_quantiles": """
            WITH s AS (
                SELECT l_extendedprice AS v,
                       row_number() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS r
                FROM lineitem),
            n AS (SELECT COUNT(*) AS n FROM lineitem)
            SELECT t.q, s.v AS value
            FROM (VALUES (CAST(0.01 AS DOUBLE)), (CAST(0.25 AS DOUBLE)),
                         (CAST(0.5 AS DOUBLE)), (CAST(0.75 AS DOUBLE)),
                         (CAST(0.9 AS DOUBLE)), (CAST(0.99 AS DOUBLE))) AS t(q)
            JOIN s ON s.r = GREATEST(1, CAST(CEIL(t.q * (SELECT n FROM n)) AS BIGINT))
            ORDER BY t.q
        """,
        "stratified_sample": f"""
            SELECT doc_id, lang FROM documents
            WHERE CAST(('0x' || substr(md5('strat_v1' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                  < CASE lang WHEN 'en' THEN {int(0.5 * 2**32)}
                              WHEN 'de' THEN {int(0.25 * 2**32)}
                              WHEN 'zh' THEN {int(1.0 * 2**32)}
                              ELSE 0 END
            ORDER BY doc_id
        """,
        "repetition_profile": r"""
            WITH base AS (
                SELECT doc_id,
                       string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
                FROM documents),
            w AS (
                SELECT doc_id, unnest(ws) AS wd, generate_subscripts(ws, 1) AS i
                FROM base),
            wc AS (
                SELECT doc_id, COUNT(*) AS n, COUNT(DISTINCT wd) AS dst
                FROM w GROUP BY doc_id),
            g AS (
                SELECT a.doc_id, a.wd || chr(31) || b.wd AS bg
                FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
            c AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM g GROUP BY doc_id, bg),
            m AS (
                SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS top,
                       CAST(SUM(cnt) AS BIGINT) AS tot,
                       CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup
                FROM c GROUP BY doc_id)
            SELECT wc.doc_id,
                   CAST(wc.n AS BIGINT) AS n_words,
                   CAST(wc.dst AS DOUBLE) / wc.n AS distinct_word_frac,
                   COALESCE(CAST(m.top AS DOUBLE) / m.tot, 0.0) AS top_bigram_frac,
                   COALESCE(CAST(m.dup AS DOUBLE) / m.tot, 0.0) AS dup_bigram_frac
            FROM wc LEFT JOIN m ON wc.doc_id = m.doc_id
            ORDER BY wc.doc_id
        """,
        "mix_resample": """
            WITH c AS (
                SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
                       CASE source WHEN 'src0' THEN CAST(0.5 AS DOUBLE)
                                   WHEN 'src1' THEN CAST(0.3 AS DOUBLE)
                                   ELSE CAST(0.2 AS DOUBLE) END AS w
                FROM documents WHERE source IN ('src0', 'src1', 'src2')
                GROUP BY source),
            t AS (SELECT MIN(n / w) AS t FROM c),
            r AS (SELECT source,
                         CAST(FLOOR(LEAST(CAST(1.0 AS DOUBLE), t.t * w / n)
                                    * 4294967296.0) AS UBIGINT) AS thresh
                  FROM c, t)
            SELECT d.doc_id, d.source
            FROM documents d JOIN r ON d.source = r.source
            WHERE CAST(('0x' || substr(md5('mix_v1' || chr(31) || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                  < r.thresh
            ORDER BY d.doc_id
        """,
        "decontaminate": """
            WITH nrm AS (
                SELECT doc_id, lower(TRIM(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
                FROM documents),
            w AS (
                SELECT doc_id,
                       CASE WHEN LENGTH(norm) = 0 THEN CAST([] AS VARCHAR[])
                            ELSE str_split(norm, ' ') END AS words
                FROM nrm),
            s AS (
                SELECT doc_id,
                       CASE WHEN len(words) = 0 THEN CAST([] AS VARCHAR[])
                            WHEN len(words) < 5 THEN [array_to_string(words, ' ')]
                            ELSE list_transform(range(1, len(words) - 3),
                                 i -> words[i] || ' ' || words[i+1] || ' ' ||
                                      words[i+2] || ' ' || words[i+3] || ' ' || words[i+4])
                       END AS sh
                FROM w),
            bench AS (
                SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 17 = 0),
            exploded AS (
                SELECT doc_id, unnest(sh) AS g FROM s),
            hits AS (
                SELECT e.doc_id, COUNT(*) AS contam_hits
                FROM exploded e JOIN bench b ON e.g = b.g
                GROUP BY e.doc_id)
            SELECT s.doc_id,
                   COALESCE(h.contam_hits, 0) AS contam_hits,
                   COALESCE(h.contam_hits, 0) >= 1 AS contaminated
            FROM s LEFT JOIN hits h ON s.doc_id = h.doc_id
        """,
        "current_corr": """
            SELECT e.user_id, e.event_id, e.value, g.max_purchase
            FROM events e
            JOIN (SELECT user_id,
                         MAX(CASE WHEN event_type = 'purchase' THEN value END)
                             AS max_purchase
                  FROM events GROUP BY user_id) g USING (user_id)
            WHERE e.value > g.max_purchase
        """,
        "memo_lookup": """
            SELECT event_id, event_type,
                   CASE event_type WHEN 'click' THEN '/c'
                                   WHEN 'view' THEN '/v'
                                   WHEN 'purchase' THEN '/buy'
                                   WHEN 'signup' THEN '/join'
                                   ELSE '' END AS url_code
            FROM events
        """,
        "substring_frac": """
            WITH n AS (
                SELECT doc_id, TRIM(regexp_replace(text, '\\s+', ' ', 'g')) AS s
                FROM documents)
            SELECT doc_id,
                   substring(s, 2, 3) AS mid,
                   substring(s, 1, 3) AS head,
                   substring(s, 4) AS tail,
                   '' AS nan_empty,
                   s AS whole
            FROM n
        """,
        "sessionize_salted": f"""
            WITH g AS (
                SELECT user_id, event_id, ts,
                       (epoch_us(ts) - LAG(epoch_us(ts), 1) OVER ({_EVENT_WINDOW})) / 1e6 AS gap_s
                FROM events)
            SELECT user_id, event_id,
                   CAST(SUM(CASE WHEN gap_s > 1800 THEN 1 ELSE 0 END)
                        OVER ({_EVENT_WINDOW} ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM g
        """,
        "explode_tokens": """
            WITH n AS (
                SELECT lower(TRIM(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
                FROM documents),
            t AS (
                SELECT unnest(str_split(norm, ' ')) AS token
                FROM n WHERE LENGTH(norm) > 0),
            c AS (SELECT token, COUNT(*) AS n FROM t GROUP BY token)
            SELECT token, n,
                   ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS rnk
            FROM c QUALIFY rnk <= 50
        """,
        "response_latency": """
            WITH t AS (
                SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id, ts, event_id,
                       CASE event_type WHEN 'click' THEN 'user'
                                       WHEN 'purchase' THEN 'assistant'
                                       ELSE event_type END AS role
                FROM events),
            l AS (
                SELECT conv_id, role,
                       LAG(role) OVER (PARTITION BY conv_id ORDER BY ts, event_id) AS prev_role,
                       (epoch_us(ts) - LAG(epoch_us(ts))
                            OVER (PARTITION BY conv_id ORDER BY ts, event_id)) / 1e6 AS lat
                FROM t)
            SELECT conv_id, COUNT(*) AS n_turns,
                   COUNT(CASE WHEN role = 'assistant' AND prev_role = 'user' THEN 1 END) AS n_responses,
                   ROUND(AVG(CASE WHEN role = 'assistant' AND prev_role = 'user' THEN lat END), 4) AS mean_response_s,
                   ROUND(MAX(CASE WHEN role = 'assistant' AND prev_role = 'user' THEN lat END), 4) AS max_response_s
            FROM l GROUP BY conv_id
        """,
        "token_quality": """
            WITH n AS (
                SELECT doc_id, text,
                       TRIM(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
                FROM documents),
            w AS (
                SELECT doc_id, text, norm,
                       str_split(lower(norm), ' ') AS words,
                       LENGTH(text) AS nc,
                       LENGTH(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS letters
                FROM n),
            c AS (
                SELECT doc_id, nc, words,
                       CASE WHEN LENGTH(norm) = 0 THEN 0 ELSE len(words) END AS n_tokens,
                       CASE WHEN nc > 0 THEN letters::DOUBLE / nc ELSE 0.0 END AS alpha_ratio,
                       len(list_filter(words, x -> x IN
                           ('the','and','of','to','in','is','that','it','was','for'))) AS stop_hits,
                       CASE WHEN len(words) > 0
                            THEN list_sum(list_transform(words, x -> LENGTH(x)))::DOUBLE / len(words)
                            ELSE 0.0 END AS mean_wlen
                FROM w)
            SELECT doc_id,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(nc AS BIGINT) AS n_chars_obs,
                   CAST(CASE WHEN nc BETWEEN 20 AND 20000 THEN 0.25 ELSE 0.0 END
                    + CASE WHEN alpha_ratio >= 0.6 THEN 0.25 ELSE 0.0 END
                    + CASE WHEN stop_hits >= 2 THEN 0.25 ELSE 0.0 END
                    + CASE WHEN mean_wlen BETWEEN 2.5 AND 12.0 THEN 0.25 ELSE 0.0 END
                    AS DOUBLE) AS quality
            FROM c
        """,
        "lang_id": """
            WITH w AS (
                SELECT doc_id,
                       str_split(lower(TRIM(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')
                           AS words
                FROM documents),
            s AS (
                SELECT doc_id,
                       len(list_filter(words, x -> x IN ('the','and','of','to','in','is','that','it','was','for'))) AS s_en,
                       len(list_filter(words, x -> x IN ('der','die','und','das','ist','ein','nicht','mit','sich','auf'))) AS s_de,
                       len(list_filter(words, x -> x IN ('le','la','les','et','des','est','une','dans','que','pour'))) AS s_fr,
                       len(list_filter(words, x -> x IN ('el','la','los','y','de','que','en','un','una','por'))) AS s_es,
                       len(list_filter(words, x -> x IN ('il','la','che','di','e','un','una','per','con','del'))) AS s_it
                FROM w)
            SELECT doc_id,
                   CASE WHEN GREATEST(s_en, s_de, s_fr, s_es, s_it) = 0 THEN 'und'
                        WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es, s_it) THEN 'en'
                        WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es, s_it) THEN 'de'
                        WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es, s_it) THEN 'fr'
                        WHEN s_es = GREATEST(s_en, s_de, s_fr, s_es, s_it) THEN 'es'
                        ELSE 'it' END AS lang_guess
            FROM s
        """,
    }
