"""XSLT ``format-number()`` — the pattern subset the reference accepts.

Pattern grammar (XSLT 1.0 / JDK DecimalFormat subset, re-derived from
the spec; the reference rejects '%' and pattern separators —
/root/reference/src/functions.c:449-709 is the parity target):

    prefix? int-part ('.' frac-part)? suffix?
    int-part:  '#'* '0'*  with optional ',' group separators
    frac-part: '0'* '#'*

Decimal-format symbol overrides (decimal sep, grouping sep, minus,
NaN/Infinity text) come from an ``xsl:decimal-format``-like dict.

Implementation: a vectorized pandas UDF (string assembly is genuinely
Python-shaped work; Arrow batches keep it off the per-row path). The
pattern is parsed ONCE at plan-build time.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class DecimalFormat:
    """xsl:decimal-format symbol set (defaults per XSLT 1.0)."""

    decimal_sep: str = "."
    grouping_sep: str = ","
    minus: str = "-"
    nan: str = "NaN"
    infinity: str = "Infinity"


class DecimalFormatRegistry:
    """Named ``xsl:decimal-format`` collection.

    The reference gathers every named decimal-format of a stylesheet
    into one lookup (``/root/reference/src/transform.c:363-369``);
    ``format-number(v, pattern, name)`` selects by name at call time.
    The unnamed entry ("") is the XSLT default format.
    """

    def __init__(self) -> None:
        self._formats: dict[str, DecimalFormat] = {"": DecimalFormat()}

    def register(self, name: str, fmt: DecimalFormat) -> "DecimalFormatRegistry":
        self._formats[name] = fmt
        return self

    def get(self, name: str = "") -> DecimalFormat:
        if name not in self._formats:
            # XSLT 1.0 §12.3: referencing an undeclared decimal-format
            # is an error — fail at plan-build time, not per row
            raise KeyError(f"undeclared xsl:decimal-format {name!r}")
        return self._formats[name]


@dataclass(frozen=True)
class _Pattern:
    min_int: int
    min_frac: int
    max_frac: int
    group_size: int  # 0 = no grouping
    prefix: str
    suffix: str


def _parse_pattern(pattern: str) -> _Pattern:
    if "%" in pattern or ";" in pattern:
        raise ValueError("unsupported format-number pattern (no %% / pattern separator)")
    # split off prefix/suffix (anything not in the number charset)
    num_chars = set("#0.,")
    start = 0
    while start < len(pattern) and pattern[start] not in num_chars:
        start += 1
    end = len(pattern)
    while end > start and pattern[end - 1] not in num_chars:
        end -= 1
    prefix, num, suffix = pattern[:start], pattern[start:end], pattern[end:]
    if "." in num:
        int_part, frac_part = num.split(".", 1)
    else:
        int_part, frac_part = num, ""
    min_int = int_part.replace(",", "").count("0")
    min_frac = frac_part.count("0")
    max_frac = len(frac_part)
    group_size = 0
    if "," in int_part:
        group_size = len(int_part) - int_part.rindex(",") - 1
    return _Pattern(max(min_int, 0), min_frac, max_frac, group_size, prefix, suffix)


def _format_one(x: float, p: _Pattern, sym: DecimalFormat) -> str | None:
    if x is None:
        return None
    if x != x:  # NaN
        return sym.nan
    if x in (float("inf"), float("-inf")):
        return (sym.minus if x < 0 else "") + sym.infinity
    neg = x < 0
    # round half-up at max_frac digits (DecimalFormat default HALF_EVEN;
    # XSLT processors commonly do HALF_UP — pin HALF_UP, test-locked).
    # Exact decimal arithmetic on the double's shortest round-trip
    # repr: the float version int(|x|·10^f + 0.5) misrounds whenever
    # the scaled product lands below .5 by one ULP (1.005 → "1.00").
    scaled = int(
        Decimal(repr(abs(x))).scaleb(p.max_frac).to_integral_value(ROUND_HALF_UP)
    )
    int_val, frac_val = divmod(scaled, 10**p.max_frac)
    int_str = str(int_val).zfill(p.min_int) if p.min_int else str(int_val)
    if p.group_size:
        digits = int_str
        groups = []
        while len(digits) > p.group_size:
            groups.insert(0, digits[-p.group_size :])
            digits = digits[: -p.group_size]
        if digits:
            groups.insert(0, digits)
        int_str = sym.grouping_sep.join(groups)
    frac_digits = str(frac_val).zfill(p.max_frac) if p.max_frac else ""
    frac_digits = frac_digits.rstrip("0")
    while len(frac_digits) < p.min_frac:
        frac_digits += "0"
    out = int_str
    if frac_digits:
        out = f"{out}{sym.decimal_sep}{frac_digits}"
    # minus BEFORE the prefix: with no explicit negative subpattern,
    # JDK DecimalFormat prefixes the minus to the whole positive
    # subpattern — new DecimalFormat("$0.00").format(-5) == "-$5.00"
    # (test-pinned in tests/test_functions_misc.py)
    return f"{sym.minus if neg else ''}{p.prefix}{out}{p.suffix}"


def format_number(
    c: Column | str,
    pattern: str,
    symbols: DecimalFormat | str = DecimalFormat(),
    registry: DecimalFormatRegistry | None = None,
) -> Column:
    """Vectorized format-number(value, pattern[, decimal-format]).

    ``symbols`` may be a DecimalFormat or a NAME resolved through
    ``registry`` (the xsl:decimal-format third-argument form);
    resolution happens at plan-build time, so an undeclared name fails
    fast rather than per row.

    NULL input renders the NaN symbol — XPath 1.0 has no null, so
    format-number(number('')) is NaN, and that is what the reference
    engine emits (XSLT parity, ADVICE r04). The null mask sits OUTSIDE
    the Arrow UDF, whose float64 path would otherwise fold null into
    NaN silently.
    """
    if isinstance(symbols, str):
        symbols = (registry or DecimalFormatRegistry()).get(symbols)
    parsed = _parse_pattern(pattern)
    c = F.col(c) if isinstance(c, str) else c

    @F.pandas_udf(T.StringType())
    def _fmt(s: pd.Series) -> pd.Series:
        return s.map(lambda v: _format_one(v, parsed, symbols))

    return F.when(c.isNull(), F.lit(symbols.nan)).otherwise(_fmt(c.cast("double")))
