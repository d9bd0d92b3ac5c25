"""Dedup operators: exact, MinHash+LSH, n-gram Jaccard, SimHash."""

from __future__ import annotations

import pytest

from turboxsl_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_dedup,
    minhash_signatures,
    ngram_jaccard,
    shingles,
    simhash,
    tokenize,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "near the warm fire and the birds sing in the tall green trees"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, "  the   quick brown fox jumps over the lazy dog while the cat sleeps "
            "near the warm fire and the birds sing in the tall green trees  "),  # ws-dup of 1
        (4, BASE.replace("lazy", "sleepy")),  # near-dup of 1
        (5, "completely different content about spark window functions and "
            "point in time feature engineering over conversation transcripts"),
        (6, "short doc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_normalized(spark, docs):
    kept = exact_dedup(docs).select("doc_id").toPandas()["doc_id"].sort_values().tolist()
    # 2 and 3 collapse into 1
    assert kept == [1, 4, 5, 6]


def test_tokenize_blank_null_and_case(spark):
    """Blank text has no tokens (not one empty token), NULL stays NULL,
    any whitespace run separates, and tokens are lowercased. NBSP is not
    whitespace to ``normalize_space`` (Java ``\\s``), so it stays in its
    token."""
    texts = ["", "   ", None, "\tA  b\n", "MiXeD Case", "\u00a0x y"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    got = [r["t"] for r in df.orderBy("i").select(tokenize("text").alias("t")).collect()]
    assert got == [[], [], None, ["a", "b"], ["mixed", "case"], ["\u00a0x", "y"]]


def test_shingles_jvm_matches_python(spark, docs):
    row = (
        docs.where("doc_id = 6")
        .select(tokenize("text").alias("t"))
        .select(shingles("t", 3).alias("sh"))
        .collect()[0]
    )
    assert row["sh"] == ["short doc"]  # shorter than n → whole text
    row = (
        spark.createDataFrame([("a b c d",)], "text string")
        .select(tokenize("text").alias("t"))
        .select(shingles("t", 3).alias("sh"))
        .collect()[0]
    )
    assert row["sh"] == ["a b c", "b c d"]


def test_minhash_identical_signatures(spark, docs):
    sigs = minhash_signatures(docs, num_hashes=32).collect()
    by_id = {r["doc_id"]: r["minhash"] for r in sigs}
    assert by_id[1] == by_id[2] == by_id[3]  # normalization folds ws
    assert by_id[1] != by_id[5]
    # near-dup shares most minhash slots
    same = sum(a == b for a, b in zip(by_id[1], by_id[4]))
    assert same >= 16  # jaccard ~0.85 → expect most slots equal


def test_lsh_finds_near_dup_pair(spark, docs):
    sigs = minhash_signatures(docs, num_hashes=64)
    pairs = lsh_candidate_pairs(sigs, bands=16, rows_per_band=4).toPandas()
    pairset = {tuple(p) for p in pairs[["id_a", "id_b"]].values}
    assert (1, 4) in pairset
    assert (1, 5) not in pairset and (5, 6) not in pairset


def test_ngram_jaccard_exact_value(spark, docs):
    pairs = spark.createDataFrame([(1, 4), (1, 5)], "id_a long, id_b long")
    j = ngram_jaccard(pairs, docs).toPandas().set_index(["id_a", "id_b"])["jaccard"]
    # python oracle
    def sh3(t):
        toks = t.lower().split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    a, b = sh3(BASE), sh3(BASE.replace("lazy", "sleepy"))
    want = len(a & b) / len(a | b)
    assert abs(j[(1, 4)] - want) < 1e-12
    assert j[(1, 5)] < 0.05


def test_minhash_dedup_end_to_end(spark, docs):
    # one-word change in 25 words → jaccard 20/26 ≈ 0.77
    kept = (
        minhash_dedup(docs, threshold=0.7)
        .select("doc_id")
        .toPandas()["doc_id"]
        .sort_values()
        .tolist()
    )
    assert kept == [1, 5, 6]
    # at a stricter threshold the near-dup survives, exact dups still die
    strict = (
        minhash_dedup(docs, threshold=0.8)
        .select("doc_id")
        .toPandas()["doc_id"]
        .sort_values()
        .tolist()
    )
    assert strict == [1, 4, 5, 6]


def test_minhash_dedup_chain_components(spark):
    """A→B→C→D chain (adjacent pairs similar, ends dissimilar) must
    collapse to ONE representative via pointer-jumping, not per-pair."""
    words = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
             "kilo lima mike november oscar papa quebec romeo sierra tango").split()

    def variant(k):  # cumulatively replace 3-word blocks
        w = list(words)
        for j in range(3 * k):
            w[j] = f"sub{j}"
        return " ".join(w)

    rows = [(i + 1, variant(i)) for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # chain premise: adjacent pairs similar, ends NOT directly similar
    probe = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "id_a long, id_b long")
    j = ngram_jaccard(probe, df).toPandas().set_index("id_b")["jaccard"]
    assert j[2] >= 0.55 and j[3] < 0.55 and j[4] < 0.55
    kept = (
        minhash_dedup(df, threshold=0.55, num_hashes=64, bands=32)
        .select("doc_id")
        .toPandas()["doc_id"]
        .sort_values()
        .tolist()
    )
    assert kept == [1]


def test_components_long_shuffled_chain(spark):
    """A 20-node chain with SHUFFLED (non-monotone) ids must collapse to
    one component labeled with the global min. Pure pointer-jumping
    from the min-neighbor init stalls at 'valleys' (e.g. 5–3, 3–8, 8–1
    fixpoints to {3,5},{1,8}); the label-prop + jump loop must not."""
    from turboxsl_spark.operators.dedup import duplicate_components

    import random

    rng = random.Random(3)
    ids = list(range(100, 120))
    rng.shuffle(ids)  # chain order is unrelated to id order
    pairs = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    rep = duplicate_components(df).toPandas()
    assert sorted(rep["node"]) == sorted(ids)
    assert set(rep["rep"]) == {min(ids)}


def test_components_valley_graph(spark):
    from turboxsl_spark.operators.dedup import duplicate_components

    df = spark.createDataFrame([(5, 3), (3, 8), (8, 1)], "id_a long, id_b long")
    rep = duplicate_components(df).toPandas().set_index("node")["rep"]
    assert set(rep) == {1} and sorted(rep.index) == [1, 3, 5, 8]


def test_empty_and_null_text_hit_sentinel(spark):
    """Empty/whitespace-only AND NULL texts all produce the max-long
    sentinel signature (no shingles at all), collapsing together."""
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "real content here")],
        "doc_id long, text string",
    )
    sig = (
        minhash_signatures(df, num_hashes=8)
        .toPandas()
        .set_index("doc_id")["minhash"]
    )
    sentinel = [(1 << 63) - 1] * 8
    assert list(sig[1]) == sentinel
    assert list(sig[2]) == sentinel
    assert list(sig[3]) == sentinel
    assert list(sig[4]) != sentinel


def test_simhash_deterministic_and_discriminative(spark, docs):
    def run():
        out = simhash(docs).select("doc_id", "simhash").toPandas()
        return out.set_index("doc_id")["simhash"]

    s1, s2 = run(), run()
    assert (s1 == s2).all()
    assert s1[1] == s1[2] == s1[3]
    ham = bin((int(s1[1]) ^ int(s1[4])) & (2**64 - 1)).count("1")
    ham_far = bin((int(s1[1]) ^ int(s1[5])) & (2**64 - 1)).count("1")
    assert ham < ham_far


def test_decontaminate_flags_overlap(spark):
    """Docs sharing an n-gram with the benchmark are flagged with the
    right hit counts; clean docs aren't; min_hits raises the bar; short
    docs (< n tokens) match on the whole-string shingle."""
    from turboxsl_spark.operators.dedup import decontaminate

    bench_rows = [
        (100, "the quick brown fox jumps over the lazy dog"),
        (101, "tiny eval"),
    ]
    docs_rows = [
        # two occurrences of a benchmark 5-gram ("the quick brown fox jumps")
        (0, "a the quick brown fox jumps b c the quick brown fox jumps d"),
        # exactly one benchmark 5-gram occurrence
        (1, "x y the quick brown fox jumps z"),
        # no overlap
        (2, "completely different words in this sentence here okay"),
        # short doc equal to a short benchmark doc -> whole-string match
        (3, "tiny eval"),
        # short doc, no match
        (4, "tiny other"),
        # empty doc
        (5, ""),
    ]
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")

    out = (
        decontaminate(docs, bench, n=5)
        .select("doc_id", "contam_hits", "contaminated")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert out["contam_hits"].tolist() == [2, 1, 0, 1, 0, 0]
    assert out["contaminated"].tolist() == [True, True, False, True, False, False]

    strict = (
        decontaminate(docs, bench, n=5, min_hits=2)
        .select("doc_id", "contaminated")
        .toPandas()
        .sort_values("doc_id")
    )
    assert strict["contaminated"].tolist() == [True, False, False, False, False, False]


def test_decontaminate_broadcast_plan(spark):
    """The benchmark side must reach the shingle join as a broadcast
    (no shuffle of the exploded corpus on the shingle key)."""
    from turboxsl_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [(i, f"word{i} alpha beta gamma delta epsilon zeta") for i in range(50)],
        "doc_id long, text string",
    )
    bench = docs.where("doc_id % 10 = 0")
    out = decontaminate(docs, bench, n=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:3000]


# ---- python replays of what the DuckDB oracle runs --


def test_minhash_md5_signature_matches_python(spark, docs):
    """Slot-for-slot parity with a pure-python rederivation of the
    48-bit double-hash family — the same arithmetic the DuckDB oracle
    replays."""
    import hashlib

    from turboxsl_spark.operators.dedup import P48

    sigs = minhash_signatures(docs, num_hashes=8).collect()
    by_id = {r["doc_id"]: r["minhash"] for r in sigs}

    def py_sig(text, k=8, n=3):
        toks = " ".join(text.split()).lower().split()
        if not toks:
            return [(1 << 63) - 1] * k
        if len(toks) < n:
            sh = [" ".join(toks)]
        else:
            sh = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        out = []
        for j in range(k):
            best = None
            for s in sh:
                d = hashlib.md5(s.encode()).hexdigest()
                h1, h2 = int(d[:12], 16), int(d[12:24], 16)
                v = (h1 + j * h2 + j * j) % P48
                best = v if best is None else min(best, v)
            out.append(best)
        return out

    for doc_id, text in [(1, BASE), (6, "short doc")]:
        assert by_id[doc_id] == py_sig(text), doc_id


def test_minhash_agreement_tracks_jaccard(spark, docs):
    """Minwise quality of the slot family: identical docs agree on
    every slot; the ~0.77-Jaccard near-dup agrees on roughly that
    fraction of slots; unrelated docs agree on ~none."""
    sigs = minhash_signatures(docs, num_hashes=64).collect()
    by_id = {r["doc_id"]: r["minhash"] for r in sigs}
    assert by_id[1] == by_id[2] == by_id[3]
    frac_near = sum(a == b for a, b in zip(by_id[1], by_id[4])) / 64
    frac_far = sum(a == b for a, b in zip(by_id[1], by_id[5])) / 64
    assert 0.55 <= frac_near <= 0.95  # E[agree] = J ≈ 0.77
    assert frac_far <= 0.15


def test_simhash_md5_matches_python_bitvote(spark, docs):
    import hashlib

    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash(docs).select("doc_id", "simhash").collect()
    }

    def py_simhash(text):
        toks = " ".join(text.split()).lower().split()
        votes = [0] * 60
        for t in toks:
            hv = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for b in range(60):
                votes[b] += 1 if (hv >> b) & 1 else -1
        return sum(1 << b for b in range(60) if votes[b] > 0)

    for doc_id, text in [(1, BASE), (5, None), (6, "short doc")]:
        if text is None:
            continue
        assert got[doc_id] == py_simhash(text), doc_id
    # 60-bit contract: top 4 bits always clear
    assert all(v >> 60 == 0 for v in got.values())
    # ws-normalized dup has the identical signature
    assert got[1] == got[3]


def test_ngram_jaccard_null_text_is_empty_set(spark):
    """NULL-text docs must behave like empty docs in the verify stage
    (jaccard 1.0 vs another contentless doc, 0 vs a real doc) — not
    silently drop out through NULL set arithmetic. Matches the DuckDB
    oracle's list_concat NULL-skipping semantics."""
    docs = spark.createDataFrame(
        [(1, None), (2, "   "), (3, "real content here with words")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    j = ngram_jaccard(pairs, docs).toPandas().set_index(["id_a", "id_b"])["jaccard"]
    assert j[(1, 2)] == 1.0
    assert j[(1, 3)] == 0.0


def test_minhash_family_is_minwise_unbiased(spark):
    """Statistical check that the md5 48-bit double-hash slot family
    estimates Jaccard without the slot-correlation
    bias that killed the affine family: over 24 synthetic doc pairs
    spanning J ∈ ~[0.2, 0.9], the pooled slot-agreement rate must
    track the pooled exact Jaccard within a few standard errors (24
    pairs × 32 slots = 768 draws, se ≈ 0.018), and per-pair estimates
    must not be systematically one-sided."""
    import hashlib

    import numpy as np

    rng = np.random.default_rng(17)
    rows = []
    exact_j = {}
    for i in range(24):
        n = 60
        overlap = int(n * (0.2 + 0.7 * i / 23))
        base = [f"w{i}_{k}" for k in range(n)]
        # doc B shares `overlap` tokens of A's tail and adds fresh ones
        a_toks = base
        b_toks = base[n - overlap :] + [f"x{i}_{k}" for k in range(n - overlap)]
        rows.append((2 * i, " ".join(a_toks)))
        rows.append((2 * i + 1, " ".join(b_toks)))

        def sh3(toks):
            return {
                hashlib.md5(" ".join(toks[k : k + 3]).encode()).hexdigest()
                for k in range(len(toks) - 2)
            }

        sa, sb = sh3(a_toks), sh3(b_toks)
        exact_j[i] = len(sa & sb) / len(sa | sb)

    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {
        r["doc_id"]: r["minhash"]
        for r in minhash_signatures(df, num_hashes=32).collect()
    }
    diffs = []
    agree_total = j_total = 0.0
    for i in range(24):
        agree = sum(
            a == b for a, b in zip(sigs[2 * i], sigs[2 * i + 1])
        ) / 32.0
        diffs.append(agree - exact_j[i])
        agree_total += agree
        j_total += exact_j[i]
    # pooled estimate unbiased within ~3 se
    assert abs(agree_total - j_total) / 24 < 0.06, (agree_total / 24, j_total / 24)
    # not systematically one-sided: both signs occur
    assert any(d > 0 for d in diffs) and any(d < 0 for d in diffs)


def test_reliable_checkpoint_conf_resolution():
    """VERDICT r04 item 2: off local[*], the one materialization policy
    must use a RELIABLE checkpoint into the scratch conf (or raise),
    never an executor-local one."""
    import pytest

    from turboxsl_spark.operators.rank import _reliable_checkpoint

    class _Conf:
        def __init__(self, values):
            self._v = values

        def get(self, key, default=None):
            return self._v.get(key, default)

    class _SC:
        def __init__(self):
            self.dir = None

        def getCheckpointDir(self):
            return self.dir

        def setCheckpointDir(self, d):
            self.dir = d

    class _Spark:
        def __init__(self, values):
            self.conf = _Conf(values)
            self.sparkContext = _SC()

    class _DF:
        def __init__(self, spark):
            self.sparkSession = spark
            self.calls = []

        def localCheckpoint(self):
            self.calls.append("local")
            return self

        def checkpoint(self):
            self.calls.append("reliable")
            return self

    # local master → executor-local checkpoint (fast path)
    df = _DF(_Spark({"spark.master": "local[4]"}))
    assert _reliable_checkpoint(df) is df and df.calls == ["local"]

    # cluster master, no scratch conf → raise at plan time
    for master in ("yarn", "spark://host:7077"):
        df = _DF(_Spark({"spark.master": master}))
        with pytest.raises(ValueError, match="cluster-visible"):
            _reliable_checkpoint(df)
        assert df.calls == []
        assert df.sparkSession.sparkContext.dir is None

    # cluster master + conf → reliable checkpoint, dir wired once
    sp = _Spark({"spark.master": "yarn",
                 "spark.turboxsl.scratchDir": "s3://bkt/scratch/"})
    df = _DF(sp)
    assert _reliable_checkpoint(df) is df and df.calls == ["reliable"]
    assert sp.sparkContext.dir == "s3://bkt/scratch/cc_checkpoints"
    # second call must not clobber an already-set checkpoint dir
    sp.sparkContext.dir = "s3://elsewhere/ckpt"
    df2 = _DF(sp)
    _reliable_checkpoint(df2)
    assert sp.sparkContext.dir == "s3://elsewhere/ckpt"

    # an explicitly pre-set checkpoint dir wins even without the conf
    sp2 = _Spark({"spark.master": "spark://host:7077"})
    sp2.sparkContext.dir = "hdfs:///ckpt"
    df3 = _DF(sp2)
    assert _reliable_checkpoint(df3) is df3 and df3.calls == ["reliable"]
