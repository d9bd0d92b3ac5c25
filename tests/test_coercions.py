"""Unit pins for the reference's C value semantics (FIXTURES.md §5)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from turboxsl_spark.functions.numeric import (
    xpath_boolean_str,
    xpath_mod,
    xpath_number,
    xpath_number_to_string,
    xpath_round,
)
from turboxsl_spark.functions.strings import (
    avt_template,
    normalize_space,
    substring_after,
    substring_before,
    xpath_substring,
    xpath_translate,
)


def _vals(spark, col, data, intype="double"):
    df = spark.createDataFrame([(v,) for v in data], schema=f"x {intype}")
    return [r[0] for r in df.select(col.alias("y")).collect()]


def test_round_is_floor_half_up(spark):
    # round(-0.5) == 0.0 — floor(x+0.5), NOT banker's/HALF_UP
    got = _vals(spark, xpath_round(F.col("x")), [-0.5, 0.5, 2.5, -2.5, 1.4, -1.6])
    assert got == [0.0, 1.0, 3.0, -2.0, 1.0, -2.0]


def test_mod_truncates_to_long(spark):
    df = spark.createDataFrame([(7.9, 3.9), (-7.0, 3.0), (7.0, -3.0)], "l double, r double")
    got = [r[0] for r in df.select(xpath_mod("l", "r").alias("m")).collect()]
    assert got == [1, -1, 1]  # C % semantics on longs


def test_round_floor_ceiling_nonfinite_pass_through(spark):
    """NaN/±inf propagate (XPath 1.0 / C floor semantics) instead of
    Spark's raw long-cast artifacts (NaN→0, inf→Long.MAX)."""
    from turboxsl_spark.functions.numeric import xpath_ceiling, xpath_floor

    inf = float("inf")
    data = [float("nan"), inf, -inf, 1e300, -1e300]
    for fn in (xpath_round, xpath_floor, xpath_ceiling):
        got = _vals(spark, fn(F.col("x")), data)
        assert math.isnan(got[0]), fn.__name__
        assert got[1] == inf and got[2] == -inf, fn.__name__
        # |x| >= 2^53 is already integral: unchanged, no long overflow
        assert got[3] == 1e300 and got[4] == -1e300, fn.__name__


def test_mod_edge_operands_yield_null_not_crash(spark):
    """Zero divisor / NaN / out-of-long-range operands → NULL under
    ANSI mode (not REMAINDER_BY_ZERO / CAST_OVERFLOW aborts)."""
    df = spark.createDataFrame(
        [(7.0, 0.0), (float("nan"), 3.0), (7.0, float("nan")), (1e300, 3.0), (7.0, 3.0)],
        "l double, r double",
    )
    got = [r[0] for r in df.select(xpath_mod("l", "r").alias("m")).collect()]
    assert got == [None, None, None, None, 1]


def test_number_coercion_nan(spark):
    got = _vals(
        spark, xpath_number(F.col("x")), ["", "abc", " 4.5 ", "7", None], intype="string"
    )
    assert math.isnan(got[0]) and math.isnan(got[1])
    assert got[2] == 4.5 and got[3] == 7.0
    assert got[4] is None


def test_boolean_empty_string_false(spark):
    got = _vals(spark, xpath_boolean_str(F.col("x")), ["", "a", "0", None], intype="string")
    assert got == [False, True, True, False]


def test_integral_double_to_string(spark):
    got = _vals(spark, xpath_number_to_string(F.col("x")), [4.0, 4.5, -3.0, float("nan")])
    assert got == ["4", "4.5", "-3", "NaN"]


def test_normalize_space(spark):
    got = _vals(
        spark,
        normalize_space(F.col("x")),
        ["  a   b\tc\n d  ", "x", "   ", ""],
        intype="string",
    )
    assert got == ["a b c d", "x", "", ""]


def test_translate_deletes_unmatched(spark):
    got = _vals(spark, xpath_translate(F.col("x"), "abc", "AB"), ["abcabc"], intype="string")
    assert got == ["ABAB"]  # 'c' deleted: no counterpart in 'to'


def test_substring_one_based_codepoints(spark):
    got = _vals(spark, xpath_substring(F.col("x"), 2, 3), ["héllo好"], intype="string")
    assert got == ["éll"]


def test_substring_fractional_xpath_spec(spark):
    """The XPath 1.0 spec's own substring edge cases (§4.2), evaluated
    with round(x)=floor(x+0.5) double semantics (ref functions.c:184-222)."""
    inf = float("inf")
    nan = float("nan")
    df = spark.createDataFrame([("12345",)], "s string")
    s = F.col("s")
    cases = [
        (xpath_substring(s, 1.5, 2.6), "234"),
        (xpath_substring(s, 0.0, 3), "12"),
        (xpath_substring(s, nan, 3), ""),
        (xpath_substring(s, 1, nan), ""),
        (xpath_substring(s, -42, inf), "12345"),
        (xpath_substring(s, -inf, inf), ""),
        (xpath_substring(s, 3.7), "45"),
        (xpath_substring(s, 99.0), ""),
        # INT args with start <= 0 / negative length must take the
        # XPath path too, not Spark's substring (which counts negative
        # starts from the END of the string and treats 0 as 1)
        (xpath_substring(s, 0, 3), "12"),
        (xpath_substring(s, -1, 3), "1"),
        (xpath_substring(s, -5, 3), ""),
        (xpath_substring(s, 2, -1), ""),
        (xpath_substring(s, 0), "12345"),
    ]
    got = df.select(*[c.alias(f"c{i}") for i, (c, _) in enumerate(cases)]).collect()[0]
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_substring_before_after(spark):
    data = ["1999/04/01", "nope"]
    before = _vals(spark, substring_before(F.col("x"), "/"), data, intype="string")
    after = _vals(spark, substring_after(F.col("x"), "/"), data, intype="string")
    assert before == ["1999", ""]
    assert after == ["04/01", ""]


def test_avt_template_braces(spark):
    df = spark.createDataFrame([("world", 3)], "name string, n int")
    col = avt_template("hi {name} x{{esc}} #{n}", name=F.col("name"), n=F.col("n"))
    assert df.select(col.alias("t")).collect()[0][0] == "hi world x{esc} #3"


def test_avt_missing_slot_raises():
    with pytest.raises(KeyError):
        avt_template("{missing}", present=F.lit(1))


# characters where Spark's form encoding, RFC 3986 and JS escaping
# part ways, plus NUL, non-BMP text, the empty string and NULL
_ESCAPE_EDGES = [
    "*", "~", "+", "%", "a+b*c~d%e f", "\t", "\r", "\n", "'", '"', "\\",
    "\x00", "好", "😀", "", None,
]


def test_url_encode_matches_urllib(spark):
    import urllib.parse

    from turboxsl_spark.functions.strings import url_encode

    data = ["a b&c/d?e=f", "héllo 好", "plain", *_ESCAPE_EDGES]
    got = _vals(spark, url_encode("x"), data, intype="string")
    want = [None if s is None else urllib.parse.quote(s, safe="-_.~") for s in data]
    assert got == want


def test_js_escape(spark):
    from turboxsl_spark.functions.strings import str_escape_js

    data = ['say "hi"\n', "back\\slash", "it's", *_ESCAPE_EDGES]
    got = _vals(spark, str_escape_js("x"), data, intype="string")
    assert got == [
        'say \\"hi\\"\\n', "back\\\\slash", "it\\'s",
        "*", "~", "+", "%", "a+b*c~d%e f", "\\t", "\\r", "\\n", "\\'", '\\"', "\\\\",
        "\x00", "好", "😀", "", None,
    ]
