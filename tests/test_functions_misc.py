"""Localization, format-number, engine extension point."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from turboxsl_spark.engine import Engine
from turboxsl_spark.functions.format_number import DecimalFormat, format_number
from turboxsl_spark.functions.localize import localize, localize_plural


def test_localize_fallback(spark):
    df = spark.createDataFrame([("greeting",), ("missing_key",)], "k string")
    cat = {"greeting": "Здравствуйте", "bye": "Пока"}
    got = [r[0] for r in df.select(localize("k", cat).alias("v")).collect()]
    assert got == ["Здравствуйте", "missing_key"]


def test_localize_plural_en_ru(spark):
    df = spark.createDataFrame([(0,), (1,), (2,), (5,), (11,), (21,), (104,)], "n int")
    forms_en = {"books": ["{n} book", "{n} books"]}
    forms_ru = {"books": ["{n} книга", "{n} книги", "{n} книг"]}
    en = [r[0] for r in df.select(localize_plural(F.lit("books"), "n", forms_en, "en").alias("v")).collect()]
    ru = [r[0] for r in df.select(localize_plural(F.lit("books"), "n", forms_ru, "ru").alias("v")).collect()]
    assert en == ["0 books", "1 book", "2 books", "5 books", "11 books", "21 books", "104 books"]
    assert ru == ["0 книг", "1 книга", "2 книги", "5 книг", "11 книг", "21 книга", "104 книги"]


def test_plural_rules_all_reference_languages(spark):
    """Form-index parity with the reference's 10 per-language rules
    (/root/reference/src/localization.c:37-86), evaluated as Python
    ports of the C ternaries and compared against the Spark columns."""
    from turboxsl_spark.functions.localize import _PLURAL_RULES

    def c_ru(n):  # ru + uk (localization.c:37-45)
        return 0 if n % 10 == 1 and n % 100 != 11 else (
            1 if 2 <= n % 10 <= 4 and (n % 100 < 10 or n % 100 >= 20) else 2
        )

    def c_pl(n):  # localization.c:52-55
        return 0 if n == 1 else (
            1 if 2 <= n % 10 <= 4 and (n % 100 < 10 or n % 100 >= 20) else 2
        )

    def c_two(n):  # en/et/de/es/az/uz/tr (localization.c:47-85)
        return int(n != 1)

    expected = {
        "ru": c_ru, "uk": c_ru, "pl": c_pl,
        "en": c_two, "et": c_two, "de": c_two,
        "es": c_two, "az": c_two, "uz": c_two, "tr": c_two,
    }
    assert set(_PLURAL_RULES) == set(expected)
    ns = list(range(0, 130)) + [1000, 1001, 1011, 1021, 111, 112, 114, 121]
    df = spark.createDataFrame([(n,) for n in ns], "n long")
    sel = df.select(
        "n", *[_PLURAL_RULES[lang](F.col("n")).alias(lang) for lang in expected]
    )
    for row in sel.collect():
        for lang, c_rule in expected.items():
            assert row[lang] == c_rule(row["n"]), (lang, row["n"])


def test_plural_pl_diverges_from_ru(spark):
    """The behavioral gap VERDICT r04 flagged: pl singular is exactly
    n == 1, ru singular is every x1 outside x11 — so 21/31/101 split."""
    df = spark.createDataFrame([(1,), (21,), (31,), (101,), (11,)], "n long")
    forms = {"k": ["one", "few", "many"]}
    pl = [r[0] for r in df.select(localize_plural(F.lit("k"), "n", forms, "pl").alias("v")).collect()]
    ru = [r[0] for r in df.select(localize_plural(F.lit("k"), "n", forms, "ru").alias("v")).collect()]
    assert pl == ["one", "many", "many", "many", "many"]
    assert ru == ["one", "one", "one", "one", "many"]


@pytest.mark.parametrize(
    "pattern,value,want",
    [
        ("#,##0.00", 1234567.891, "1,234,567.89"),
        ("#,##0.00", -0.5, "-0.50"),
        ("0", 4.4, "4"),
        ("0", 4.5, "5"),
        ("#.##", 0.125, "0.13"),   # HALF_UP at max_frac  (0.125*100=12.5 → 13)
        ("#.##", 3.0, "3"),
        ("00000", 42, "00042"),
        ("#,##0", 999, "999"),
        ("#,##0", float("nan"), "NaN"),
    ],
)
def test_format_number_patterns(spark, pattern, value, want):
    df = spark.createDataFrame([(float(value),)], "x double")
    got = df.select(format_number("x", pattern).alias("v")).collect()[0][0]
    assert got == want


def test_format_number_custom_symbols(spark):
    df = spark.createDataFrame([(1234.5,)], "x double")
    sym = DecimalFormat(decimal_sep=",", grouping_sep=" ", minus="−")
    got = df.select(format_number("x", "#,##0.00", sym).alias("v")).collect()[0][0]
    assert got == "1 234,50"


def test_format_number_rejects_percent():
    with pytest.raises(ValueError):
        format_number(F.lit(1.0), "0%")


def test_format_number_exact_decimal_rounding(spark):
    """float-math scaling misrounds 1.005·100 = 100.4999... → '1.00';
    the exact-decimal path must give '1.01' (HALF_UP on the double's
    shortest repr), and stay correct at large magnitudes."""
    cases = [(1.005, "0.00", "1.01"), (2.675, "0.00", "2.68"),
             (1e15 + 0.5, "0", "1000000000000001"),  # exact .5 at 1e15 rounds up
             (1234567890123.455, "0.00", "1234567890123.46")]
    for value, pattern, want in cases:
        df = spark.createDataFrame([(value,)], "x double")
        got = df.select(format_number("x", pattern).alias("v")).collect()[0][0]
        assert got == want, (value, pattern, got)


def test_format_number_null_semantics(spark):
    """XSLT parity (ADVICE r04): XPath 1.0 has no null, so a null input
    renders the NaN symbol like the reference engine. The mask sits
    OUTSIDE the Arrow UDF whose float64 path folds null into NaN."""
    df = spark.createDataFrame([(None,), (1.5,)], "x double")
    got = [r[0] for r in df.select(format_number("x", "0.00").alias("v")).collect()]
    assert got == ["NaN", "1.50"]


def test_format_number_negative_prefix_placement(spark):
    """JDK DecimalFormat semantics: with no negative subpattern the
    minus goes BEFORE the positive prefix ('-$5.00', not '$-5.00')."""
    df = spark.createDataFrame([(-5.0,)], "x double")
    got = df.select(format_number("x", "$0.00").alias("v")).collect()[0][0]
    assert got == "-$5.00"


def test_decimal_format_registry(spark):
    from turboxsl_spark.functions.format_number import DecimalFormatRegistry

    reg = DecimalFormatRegistry().register(
        "ru", DecimalFormat(decimal_sep=",", grouping_sep=" ")
    )
    df = spark.createDataFrame([(1234.5,)], "x double")
    got = df.select(format_number("x", "#,##0.00", "ru", reg).alias("v")).collect()[0][0]
    assert got == "1 234,50"
    # default (unnamed) format always present
    got2 = df.select(format_number("x", "#,##0.00", "", reg).alias("v")).collect()[0][0]
    assert got2 == "1,234.50"
    with pytest.raises(KeyError):
        format_number(F.lit(1.0), "0", "nope", reg)


def test_engine_register_feature(spark):
    from turboxsl_spark.sources.transcripts import TRANSCRIPT_SCHEMA, gen_transcripts_pdf

    eng = Engine(spark)
    eng.register_feature(
        "shout_len", lambda s: s.str.upper().str.len().astype("int32"), "int"
    )
    eng.register_feature("double_len", lambda c: F.length(c) * 2)  # Column builder
    df = spark.createDataFrame(gen_transcripts_pdf(10, seed=2), TRANSCRIPT_SCHEMA)
    out = eng.build_features(df).select("text_norm", "shout_len", "double_len").toPandas()
    assert (out["shout_len"] == out["text_norm"].str.len()).all()
    assert (out["double_len"] == out["text_norm"].str.len() * 2).all()


def test_xml_comment_and_pi_validity(spark):
    from turboxsl_spark.functions.strings import xml_comment, xml_pi

    rows = [
        # (content, target, data, want_comment, want_pi)
        ("ok text", "app", "d=1", "<!--ok text-->", "<?app d=1?>"),
        ("has -- inside", "xml-stylesheet", "href", None, "<?xml-stylesheet href?>"),
        ("ends with -", "xml", "x", None, None),          # reserved target
        ("", "a.b-c_d", "", "<!---->", "<?a.b-c_d ?>"),   # empty content is valid
        ("fine", "1bad", "x", "<!--fine-->", None),       # non-NCName target
        ("fine", "app", "oops ?> tail", "<!--fine-->", None),  # '?>' in data
        ("fine", "XML", "x", "<!--fine-->", None),        # case-insensitive reserve
    ]
    df = spark.createDataFrame(
        [(i, c, t, d) for i, (c, t, d, _, _) in enumerate(rows)],
        "id long, c string, t string, d string",
    )
    got = (
        df.select(
            "id", xml_comment("c").alias("cm"), xml_pi("t", "d").alias("pi")
        )
        .orderBy("id")
        .collect()
    )
    for r, (_, _, _, want_cm, want_pi) in zip(got, rows):
        assert r["cm"] == want_cm, (r["id"], r["cm"], want_cm)
        assert r["pi"] == want_pi, (r["id"], r["pi"], want_pi)


def test_text_builders_sql_form_matches_column_form(spark):
    """Each flagship text builder's SQL-text form optimizes to the same
    expression as its Column form; the two share the whitespace regex
    and the template parser."""
    import re

    from turboxsl_spark.functions.strings import (
        avt_template,
        avt_template_sql,
        md5_hex,
        md5_hex_sql,
        normalize_space,
        normalize_space_sql,
    )
    from turboxsl_spark.functions.text_analysis import (
        normalized_token_count,
        normalized_token_count_sql,
    )

    df = spark.range(3).selectExpr("CAST(id AS STRING) AS t", "CAST(id AS INT) AS i")
    tmpl = "{{x}} it's {a}\\ 100% → ü {b}}}"
    pairs = [
        (normalize_space("t"), normalize_space_sql("`t`")),
        (normalized_token_count("t"), normalized_token_count_sql("`t`")),
        (md5_hex("t", "i"), md5_hex_sql("`t`", "`i`")),
        (
            avt_template(tmpl, a=F.col("t"), b=F.col("i")),
            avt_template_sql(tmpl, a="`t`", b="`i`"),
        ),
        (avt_template("", a=F.col("t")), avt_template_sql("", a="`t`")),
    ]

    def optimized(d):
        return re.sub(r"#\d+L?", "#", d._jdf.queryExecution().optimizedPlan().toString())

    for col, sql in pairs:
        assert optimized(df.select(col.alias("x"))) == optimized(df.selectExpr(f"{sql} AS x"))
    with pytest.raises(KeyError):
        avt_template_sql("{nope}", a="`t`")
