"""Hex / address normalization column functions.

Re-expresses (from scratch, columnar) the scalar helpers of the reference:
- hex_to_dec       /root/reference/ethereumetl/utils.py:46-54 (tolerant int(x,16))
- to_normalized_address /root/reference/ethereumetl/utils.py:84-87 (lowercase)
- chunk_string / split_to_words / word_to_address
  /root/reference/ethereumetl/service/token_transfer_extractor.py:199-214

Hot-path policy (BASELINE.json input_hint — no per-row Python):
- values that fit in 63 bits → native ``conv`` (JVM, whole-stage codegen);
- uint256 → chunked ``conv`` + try_* Decimal(38,0) arithmetic, ALSO pure
  JVM (r6: this was an Arrow-batched pandas UDF — correct, but the
  ArrowEvalPython node it planted made EVERY row of every decode cross the
  JVM↔Python boundary even though >99.9% of real values take the fast
  path; guide §4.1). Overflow past 38 digits → NULL, same compromise as
  the reference's BigQuery schema (/root/reference/docs/limitations.md:9-12).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, LongType



def _strip0x(c: Column) -> Column:
    return F.when(c.startswith("0x"), F.substring(c, 3, 2_000_000)).otherwise(c)


def hex_to_long(c: Column) -> Column:
    """0x-hex → long, JVM-side (``conv``). Use for gas/indexes/timestamps/
    block numbers.

    Empty/'0x'/NULL → NULL. A value of 2^63 or more → NULL: ``conv`` and
    the long cast raise on it under ANSI mode, which would fail the whole
    decode job. The bound is checked on the significant digits, so a
    zero-padded ABI word decodes like its short form.

    Input contract: an optional lowercase '0x' followed by hex digits
    (either case). Anything else is NULL: '0xzz', '0x1z', '0X10' and '-1'
    all yield NULL (``conv`` alone would read the leading digits and give
    0, 1 and 0, and wrap '-1' past the long range).
    """
    h = _strip0x(c)
    d = _sig(h)
    fits = (F.length(d) < 16) | (
        (F.length(d) == 16) & F.substring(d, 1, 1).isin(*"1234567")
    )
    return F.when(_is_hex(h) & fits, F.conv(h, 16, 10).cast(LongType()))


_HEX_DIGITS = "0123456789abcdefABCDEF"
_DEC38 = DecimalType(38, 0)


def _hex_body(c: Column) -> Column:
    """Digits after the '0x'/'~0x' prefix; after '~0x', their digit-wise
    complement (width preserved: the marker's width IS the two's-complement
    modulus), so a '~0x' word's body is the magnitude of −(value + 1)."""
    return F.when(
        c.startswith("~0x"),
        F.translate(
            F.lower(F.substring(c, 4, 2_000_000)),
            "0123456789abcdef",
            "fedcba9876543210",
        ),
    ).otherwise(F.substring(c, 3, 2_000_000))


def _is_hex(h: Column) -> Column:
    """h is one or more hex digits (translate-to-empty: one linear scan
    inside codegen, no regex engine)."""
    return (F.length(h) > 0) & (F.length(F.translate(h, _HEX_DIGITS, "")) == 0)


def _hex_word_ok(c: Column) -> Column:
    return (c.startswith("0x") | c.startswith("~0x")) & _is_hex(_hex_body(c))


def _sig(h: Column) -> Column:
    return F.ltrim(h, F.lit("0"))  # ABI-word zero padding (JVM trim, no regex)


def hex_digits(c: Column) -> Column:
    """Decode stage 1: the significant digits of a '0x'/'~0x' word (see
    :func:`_hex_body`; '' for zero), NULL unless the word is well-formed."""
    return F.when(_hex_word_ok(c), _sig(_hex_body(c)))


def hex_magnitude(d: Column) -> Column:
    """Decode stage 2: significant hex digits → Decimal(38,0), NULL past
    10^38 − 1 and for NULL digits.

    ≤ 16 digits (the overwhelming majority of real values: gas, indexes,
    token amounts in base units) are one unsigned 64-bit ``conv``; 17–32
    digits are two 16-digit chunks combined as a·16^16 + b with
    try_multiply/try_add, which yield NULL exactly on v ≥ 10^38 (the
    overflow channel the reference's BigQuery schema documents); 33 or more
    digits are ≥ 16^32 > 10^38 and always overflow."""
    n = F.length(d)
    padded = F.lpad(d, 32, "0")
    hi = F.conv(F.substring(padded, 1, 16), 16, 10).cast(_DEC38)
    lo = F.conv(F.substring(padded, 17, 16), 16, 10).cast(_DEC38)
    p16 = F.lit(Decimal(16**16)).cast(_DEC38)  # > 2^63: no long literal
    return F.when(n <= 16, F.conv(F.lpad(d, 16, "0"), 16, 10).cast(_DEC38)).when(
        n <= 32, F.try_add(F.try_multiply(hi, p16), lo)
    )


def hex_signed(c: Column, m: Column) -> Column:
    """Decode stage 3: the value of word ``c`` given its magnitude ``m``.
    '0x' → m; '~0x' → −(m + 1), applied arithmetically so ``m`` is
    referenced once; a plain decimal string → its try_cast; else NULL.
    −(10^38 − 1) − 1 overflows Decimal(38,0) → NULL, matching the strict
    −10^38 < v bound."""
    neg = c.startswith("~0x")
    return F.when(
        c.startswith("0x") | neg,
        F.try_subtract(m * F.when(neg, -1).otherwise(1), neg.cast("int")),
    ).when(c.rlike("^\\s*[+-]?[0-9]+\\s*$"), c.try_cast(_DEC38))


def hex_to_dec38(c: Column) -> Column:
    """0x-hex (or decimal string, or the '~0x' two's-complement marker
    emitted by the signed ABI decode) → Decimal(38,0); NULL on
    overflow/garbage. ALL-JVM (whole-stage codegen), no Python boundary.

    The decode has three stages: :func:`hex_digits` (significant digits,
    NULL unless well-formed), :func:`hex_magnitude` (their Decimal(38,0)
    value; 33 or more significant digits always overflow, as 16^32 > 10^38)
    and :func:`hex_signed` (the '~0x' sign and the decimal-string branch).
    The magnitude references its digits several times. ``EntityDecoder``
    therefore computes the digits in a projection of their own, which
    Catalyst keeps apart from the projection that references them, so the
    generated code grows with the expression's size, not with its copies.
    This one-column form has no projection to stand on: it checks
    well-formedness once, outside the magnitude, and applies the sign
    arithmetically, so the magnitude and its digits appear in the tree
    once (composing the three helpers as they are would copy the
    well-formedness check into every use of the digits).

    Input contract: machine-generated words. Hex input must be exactly
    '0x'/'~0x' followed by hex digits, so whitespace padding or '_'
    grouping ('0x1f ', ' 0x1f', '0x1_f') yields NULL, as does '_' in a
    decimal string ('1_000'). Decimal strings go through Spark's cast,
    which trims surrounding whitespace: ' 42' and '42 ' both yield 42.
    """
    return hex_signed(c, F.when(_hex_word_ok(c), hex_magnitude(_sig(_hex_body(c)))))


def word_to_dec38(word: Column) -> Column:
    """Bare (0x-less) hex WORD → Decimal(38,0); NULL on garbage/overflow.

    The ABI-word form of :func:`hex_to_dec38`: transfer/log decode feeds
    words straight from topic/data slicing, so the '0x' concat, the '~0x'
    sign and the decimal-string branch are dead weight per row. Same
    magnitude arithmetic; ``hex_to_dec38('0x'||w)`` ≡ ``word_to_dec38(w)``
    for 0x-less w (pinned in test_functions)."""
    return F.when(_is_hex(word), hex_magnitude(_sig(word)))


def hex_to_double(c: Column) -> Column:
    """0x-hex (ANY length, incl. the '~0x' two's-complement marker) or plain
    decimal string → double. Lossy past 2^53 ULPs but covers the full uint256
    RANGE — for quantities like uniswap v3 sqrtPriceX96 (uint160, ~1.5e48)
    where hex_to_dec38's Decimal(38,0) overflow→NULL channel would silently
    zero the derived price (ADVICE r2). JVM-side per-digit aggregate fold
    (acc*16 + digit), no Python. Garbage → NULL."""
    neg = c.startswith("~0x")
    h = F.lower(F.when(neg, F.substring(c, 4, 2_000_000)).otherwise(_strip0x(c)))
    # two's complement digit-wise BEFORE folding: folding the raw word and
    # subtracting 2^(4n) would cancel to 0.0 in double for small-magnitude
    # negatives (value = -(complement + 1))
    body = F.when(neg, F.translate(h, "0123456789abcdef", "fedcba9876543210")).otherwise(h)
    digits = F.filter(F.split(body, ""), lambda ch: ch != "")
    fold = F.aggregate(
        digits,
        F.lit(0.0),
        lambda acc, ch: acc * 16.0 + F.conv(ch, 16, 10).cast("double"),
    )
    hex_ok = (F.length(h) > 0) & h.rlike("^[0-9a-f]+$")
    signed = F.when(neg, -(fold + 1.0)).otherwise(fold)
    return (
        F.when(c.isNull(), F.lit(None).cast("double"))
        .when(c.startswith("0x") | neg, F.when(hex_ok, signed))
        .when(c.rlike("^-?[0-9]+(\\.[0-9]+)?$"), c.cast("double"))
    )


def to_normalized_address(c: Column) -> Column:
    """Lowercase 0x address; None-safe (utils.py:84-87)."""
    return F.lower(c)


def split_to_words(data: Column) -> Column:
    """0x-hex data → array of 64-hex-char words (token_transfer_extractor.py:199-205).

    Pure column ops: strip 0x, slice into 64-char chunks with a sequence+
    transform — stays inside codegen, no Python.
    """
    h = _strip0x(data)
    n_words = (F.length(h) / 64).cast("int")
    return F.when(
        data.isNull() | (F.length(h) == 0), F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_words - 1),
            lambda i: F.substring(h, F.lit(1) + i * 64, F.lit(64)),
        )
    )


def word_to_address(word: Column) -> Column:
    """64-char hex word → 0x + last 40 chars, lowercased
    (token_transfer_extractor.py:208-214)."""
    return F.when(word.isNull(), F.lit(None)).otherwise(
        F.lower(F.concat(F.lit("0x"), F.substring(word, -40, 40)))
    )
