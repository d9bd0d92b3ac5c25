"""Text-analysis functions: token counts, language ID, quality, fingerprint."""

from __future__ import annotations

from pyspark.sql import functions as F

from turboxsl_spark.functions.text_analysis import (
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    quality_score,
    token_count,
    words_of,
)


def _one(spark, col, text):
    return (
        spark.createDataFrame([(text,)], "text string")
        .select(col.alias("y"))
        .collect()[0][0]
    )


def test_token_count(spark):
    assert _one(spark, token_count(F.col("text")), "a  b\t c") == 3
    assert _one(spark, token_count(F.col("text")), "   ") == 0
    assert _one(spark, token_count(F.col("text")), "") == 0


def test_bpe_ish_count_splits_punct_digits(spark):
    n = _one(spark, bpe_ish_token_count(F.col("text")), "hello,world42x")
    # hello , world 42 x → 5
    assert n == 5


def test_lang_id(spark):
    assert _one(spark, lang_id(F.col("text")), "the cat is in the house and it is warm") == "en"
    assert _one(spark, lang_id(F.col("text")), "der hund ist nicht mit der katze") == "de"
    assert _one(spark, lang_id(F.col("text")), "le chat est dans la maison et les oiseaux") == "fr"
    assert _one(spark, lang_id(F.col("text")), "zzz qqq xxx") == "und"


def test_quality_score_bounds(spark):
    good = "The quick brown fox jumps over the lazy dog and the cat sleeps."
    bad = "@@@@ #### $$$$ %%%%"
    g = _one(spark, quality_score(F.col("text")), good)
    b = _one(spark, quality_score(F.col("text")), bad)
    assert g == 1.0
    assert b <= 0.5
    assert 0.0 <= b <= g <= 1.0


def test_fingerprint_deterministic_order_sensitive(spark):
    texts = ["one two three four five six"] * 2 + ["six five four three two one"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    a, a2, b = [
        r["fp"]
        for r in df.orderBy("i")
        .select(words_of("text").alias("w"))
        .select(fingerprint("w").alias("fp"))
        .collect()
    ]
    assert a == a2
    assert a != b


def test_fingerprint_md5_matches_python_chain(spark):
    """The md5-chained fingerprint must equal a pure-python replay
    (the same fold the DuckDB oracle runs via list_reduce)."""
    import hashlib

    rows = [(1, "alpha beta gamma delta epsilon zeta"), (2, "tiny doc"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["fp"]
        for r in df.select("doc_id", words_of("text").alias("w"))
        .select("doc_id", fingerprint("w").alias("fp"))
        .collect()
    }

    def py_fp(text):
        # mirror _word_set: split of the EMPTY normalized string is ['']
        norm = " ".join(text.split()).lower()
        words = norm.split(" ")
        if len(words) < 4:
            grams = [hashlib.md5(" ".join(words).encode()).hexdigest()]
        else:
            grams = [
                hashlib.md5(" ".join(words[i : i + 4]).encode()).hexdigest()
                for i in range(len(words) - 3)
            ]
        acc = ""
        for g in grams:
            acc = hashlib.md5((acc + ":" + g).encode()).hexdigest()
        return acc

    for doc_id, text in rows:
        assert got[doc_id] == py_fp(text), doc_id
    # order sensitivity: same words, different order → different chain
    df2 = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "f e d c b a")], "doc_id long, text string"
    )
    fps = [
        r["fp"]
        for r in df2.orderBy("doc_id")
        .select(words_of("text").alias("w"))
        .select(fingerprint("w").alias("fp"))
        .collect()
    ]
    assert fps[0] != fps[1]
