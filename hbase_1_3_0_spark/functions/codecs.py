"""Byte-encoding helpers — the `Bytes` / `OrderedBytes` analog, as Column exprs.

Reference encodings (SURVEY.md §1.3):
- ``Bytes`` big-endian fixed-width encodings (Bytes.java:529/:562/:762/:1068).
  Counters are 8-byte big-endian longs (used by Increment, HRegion.java:7665).
- ``OrderedBytes`` order-preserving encodings for composite row keys
  (OrderedBytes.java:271, types/Struct.java).

Everything here is a JVM-side Column expression (no Python UDFs): encoding and
decoding stay inside whole-stage codegen so KV fixtures can be built from
100 TB of parquet without leaving the executor JVM.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TWO_POW_64 = 18446744073709551616  # 2**64
_LONG_MAX = (1 << 63) - 1


def _let(bound: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``bound`` ONCE per row
    and reference it any number of times in ``body`` without duplicating
    its subtree (r14, guide §7.3 "planning time itself can become the
    bottleneck").

    Column composition is TREE-shaped — every reference to a Python
    ``Column`` variable copies its whole operand subtree into the new
    expression — so a chain of k derivation steps that each reference the
    previous step multiplies node count multiplicatively. The ordered
    numeric codec paid for this: ``decode(encode(v))`` expanded to an
    expression Catalyst needed ~3 s to optimize and ~2 s per batch to
    evaluate (the tree outgrew codegen and fell back to interpreted
    eval). A lambda variable is a true DAG edge: ``transform`` over a
    one-element array binds ``bound`` to a variable evaluated once, and
    ``body`` references it by name. Same trick as SQL's lateral column
    alias, usable inside a single Column expression."""
    return F.transform(F.array(bound), body)[0]

# ---------------------------------------------------------------------------
# Bytes.toBytes(long) analog: 8-byte big-endian two's complement
# ---------------------------------------------------------------------------


def encode_long_be(col: Column) -> Column:
    """long -> 8-byte big-endian binary (Bytes.toBytes(long), Bytes.java:562).

    ``hex`` of a LongType yields the two's-complement big-endian hex string;
    left-padding to 16 nibbles and ``unhex`` gives the exact 8-byte encoding.
    """
    return F.unhex(F.lpad(F.hex(col.cast(T.LongType())), 16, "0"))


def decode_long_be(col: Column) -> Column:
    """8-byte big-endian binary -> long (Bytes.toLong, Bytes.java:578)."""
    unsigned = F.conv(F.hex(col), 16, 10).cast(T.DecimalType(22, 0))
    # literals > Long.MAX_VALUE must travel as strings
    two_pow_64 = F.lit(str(_TWO_POW_64)).cast(T.DecimalType(22, 0))
    signed = F.when(
        unsigned > F.lit(_LONG_MAX).cast(T.DecimalType(22, 0)),
        unsigned - two_pow_64,
    ).otherwise(unsigned)
    return signed.cast(T.LongType())


def encode_int_be(col: Column) -> Column:
    """int -> 4-byte big-endian binary (Bytes.toBytes(int), Bytes.java:762)."""
    lo32 = col.cast(T.LongType()).bitwiseAND(F.lit(0xFFFFFFFF))
    return F.unhex(F.lpad(F.hex(lo32), 8, "0"))


def decode_int_be(col: Column) -> Column:
    unsigned = F.conv(F.hex(col), 16, 10).cast(T.LongType())
    return (
        F.when(unsigned > F.lit(0x7FFFFFFF), unsigned - F.lit(0x100000000))
        .otherwise(unsigned)
        .cast(T.IntegerType())
    )


# ---------------------------------------------------------------------------
# Strings: UTF-8 (Bytes.toBytes(String), Bytes.java:529)
# ---------------------------------------------------------------------------


def decode_string(col: Column) -> Column:
    """Binary -> string for comparator/regex evaluation.

    A CAST, not decode(): Spark 4's ANSI ``decode`` raises
    MALFORMED_CHARACTER_CODING on invalid UTF-8, but the reference's
    string comparators do ``new String(value)`` which never throws
    (RegexStringComparator.java:296, SubstringComparator.java:46) — a
    scan with a substring filter must not abort because one cell holds
    non-text bytes. The cast keeps raw bytes in the UTF8String, so
    contains/rlike still match byte-wise."""
    return col.cast("string")


# ---------------------------------------------------------------------------
# Order-preserving composite row keys (the OrderedBytes / Struct analog).
#
# Non-negative integral segments are encoded as fixed-width zero-padded
# decimal ASCII; string segments pass through. Segments join with 0x7c ('|'),
# which sorts below digits' successors consistently for fixed-width segments.
# Unsigned-lexicographic order over the resulting bytes == field-wise numeric
# order, mirroring OrderedBytes.encodeNumeric / types/Struct.java:67 composite
# sort semantics, while staying decodable with builtin split/cast.
# ---------------------------------------------------------------------------

KEY_SEGMENT_WIDTH = 19  # enough for any non-negative int64
KEY_SEPARATOR = "|"


def key_segment_num(col: Column) -> Column:
    """Non-negative integer -> fixed-width sortable decimal string segment."""
    return F.lpad(col.cast(T.StringType()), KEY_SEGMENT_WIDTH, "0")


def ordered_key(*segments: Column) -> Column:
    """Compose segments into a sortable binary row key."""
    if len(segments) == 1:
        return F.encode(segments[0], "UTF-8")
    return F.encode(F.concat_ws(KEY_SEPARATOR, *segments), "UTF-8")


def ordered_key_num(*cols: Column) -> Column:
    """Numeric composite key: each column padded, joined, UTF-8 encoded."""
    return ordered_key(*[key_segment_num(c) for c in cols])


def decode_key_segment(row: Column, index: int) -> Column:
    """Extract segment ``index`` (0-based) of an ordered key as a string."""
    return F.split(F.decode(row, "UTF-8"), "\\" + KEY_SEPARATOR).getItem(index)


def decode_key_num(row: Column, index: int = 0) -> Column:
    """Extract a numeric segment back to LongType."""
    return decode_key_segment(row, index).cast(T.LongType())


# ---------------------------------------------------------------------------
# Signed / fractional order-preserving segments — the OrderedBytes numeric
# scheme (OrderedBytes.java:768 encodes sign + complement so negatives sort
# before positives and composite Struct keys order field-wise,
# types/Struct.java:67). Here the same total order comes from a fixed-point
# bias: scale to an integer, add 10^19 (covers the whole int64 range), and
# render fixed-width — unsigned-lexicographic order over the digits equals
# numeric order, and the segment decodes with builtin arithmetic.
# ---------------------------------------------------------------------------

ORDERED_SIGNED_WIDTH = 20
_SIGNED_BIAS = 10**19


def key_segment_signed(col: Column, *, scale: int = 0) -> Column:
    """Signed numeric -> fixed-width order-preserving decimal segment.

    ``scale`` is the number of fractional digits preserved (fixed-point):
    ``scale=2`` encodes -123.45 as the biased integer -12345 + 10^19.
    Valid for the entire signed-64-bit scaled range."""
    c = col.cast(T.DoubleType()) * F.lit(10**scale) if scale else col
    scaled = F.round(c).cast(T.DecimalType(38, 0))
    biased = scaled + F.lit(str(_SIGNED_BIAS)).cast(T.DecimalType(38, 0))
    return F.lpad(biased.cast(T.StringType()), ORDERED_SIGNED_WIDTH, "0")


def encode_signed_segment(value: float | int, *, scale: int = 0) -> bytes:
    """Driver-side literal form of :func:`key_segment_signed` — for building
    scan range boundaries over signed composite keys."""
    scaled = round(value * 10**scale)
    return f"{scaled + _SIGNED_BIAS:0{ORDERED_SIGNED_WIDTH}d}".encode()


def decode_key_signed(row: Column, index: int = 0, *, scale: int = 0) -> Column:
    """Extract a signed fixed-point segment back to a numeric column
    (LongType for scale=0, DoubleType otherwise)."""
    seg = decode_key_segment(row, index).cast(T.DecimalType(38, 0))
    unbiased = seg - F.lit(str(_SIGNED_BIAS)).cast(T.DecimalType(38, 0))
    if scale == 0:
        return unbiased.cast(T.LongType())
    return (unbiased.cast(T.DoubleType()) / F.lit(10**scale)).cast(T.DoubleType())


def encode_ordered_long(col: Column) -> Column:
    """Signed long -> 8 bytes whose unsigned-lexicographic order equals
    numeric order — the OrderedBytes int64 sign-bit-flip scheme
    (OrderedBytes.java:768): XOR the sign bit, emit big-endian."""
    flipped = col.cast(T.LongType()).bitwiseXOR(F.lit(-(1 << 63)))
    return F.unhex(F.lpad(F.hex(flipped), 16, "0"))


def decode_ordered_long(col: Column) -> Column:
    """Inverse of :func:`encode_ordered_long`."""
    unsigned = F.conv(F.hex(col), 16, 10).cast(T.DecimalType(22, 0))
    half = F.lit(str(1 << 63)).cast(T.DecimalType(22, 0))
    return (unsigned - half).cast(T.LongType())


# ---------------------------------------------------------------------------
# Canonical value codec for typed fixtures: values round-trip through their
# canonical string rendering (decodable with a plain cast). Raw-fidelity
# binary values use the *_be codecs above.
# ---------------------------------------------------------------------------


def encode_value(col: Column) -> Column:
    """Any atomic column -> canonical UTF-8 binary value."""
    return F.encode(col.cast(T.StringType()), "UTF-8")


def decode_value(col: Column, datatype: T.DataType | str) -> Column:
    """Canonical binary value -> typed column.

    ``try_cast`` semantics: a cell whose bytes don't parse as the target
    type decodes to NULL instead of aborting the whole scan (Spark 4's
    ANSI cast throws on malformed input; a distributed scan must tolerate
    one stray non-numeric cell in a dynamically-typed family — null then
    fails whatever comparison consumes it, the reference's
    per-cell-verdict behavior). The binary->string step is a cast too:
    ANSI decode() rejects non-UTF8 bytes."""
    dt = T._parse_datatype_string(datatype) if isinstance(datatype, str) else datatype
    return col.cast(T.StringType()).try_cast(dt)


# ---------------------------------------------------------------------------
# Full OrderedBytes numeric analog — arbitrary-precision order-preserving
# encoding (OrderedBytes.java:271 encodeNumeric semantics: NULL sorts first,
# then -inf < negatives < zero < positives < +inf < NaN; any precision/scale;
# unsigned-lexicographic byte order == numeric order; round-trip decodable;
# DESCENDING variant via an order-reversing involution). The reference packs
# base-100 significand digits (the SQLite4 key-encoding scheme); the analog
# here reaches the same ORDER CONTRACT with printable machinery Catalyst can
# codegen: a header char classing the value, a 4-digit biased decimal
# exponent, the significand's decimal digits (9-complemented for negatives),
# and a sign-specific terminator that makes every encoding prefix-free —
# positives terminate LOW ('!' < '0', so 1.23 < 1.234) and negatives
# terminate HIGH ('~' > '9', so -1.234 < -1.23). Prefix-freeness is what
# lets Struct-style composite keys (types/Struct.java:67) compare field-wise
# under one flat byte comparison.
# ---------------------------------------------------------------------------

_NUM_NULL = "A"
_NUM_NEG_INF = "B"
_NUM_NEG = "C"
_NUM_ZERO = "D"
_NUM_POS = "E"
_NUM_POS_INF = "F"
_NUM_NAN = "G"
_EXP_BIAS = 5000
_POS_TERM = "!"   # sorts below '0': a shorter positive mantissa sorts first
_NEG_TERM = "~"   # sorts above '9': a shorter negative mantissa sorts last
# char-wise order-reversing involution over the encoding alphabet: applying
# it to an ascending encoding yields the descending encoding (and back)
_DESC_SRC = "0123456789" + _POS_TERM + _NEG_TERM + "ABCDEFG"
_DESC_DST = "9876543210" + _NEG_TERM + _POS_TERM + "GFEDCBA"


def ordered_numeric_segment(
    col: Column, *, descending: bool = False
) -> Column:
    """Numeric column -> order-preserving STRING segment (ascii), the
    composable form for :func:`ordered_struct`. NULL input encodes to the
    segment that sorts FIRST (ascending), never to SQL NULL.

    Accepts integral, decimal, float and double columns — the value is
    parsed from its CANONICAL STRING RENDERING (exact for decimals of
    any precision/scale; scientific notation from doubles is folded
    into the exponent, so the full ±1e308 double range encodes), which
    needs no dtype introspection and no lossy intermediate cast. NaN
    and infinities (their renderings "NaN"/"Infinity"/"-Infinity") get
    their own header classes in the reference's order.

    Every derivation step is bound through :func:`_let` (r14): the
    parse chain is 6 steps deep and each step references the previous
    one 2-3 times, so plain Column composition expanded this to an
    expression Catalyst spent seconds optimizing (and, composed as
    ``decode(encode(v))``, fell out of codegen into interpreted eval of
    a ~100k-node tree). The let-bound form is the same formula with
    each step evaluated once."""

    def stage6(full, s, digits, exp):
        neg = F.substring(full, 1, 1) == "-"
        pos_seg = F.concat(
            F.lit(_NUM_POS),
            F.lpad((exp + _EXP_BIAS).cast(T.StringType()), 4, "0"),
            digits,
            F.lit(_POS_TERM),
        )
        neg_seg = F.concat(
            F.lit(_NUM_NEG),
            F.lpad((F.lit(_EXP_BIAS) - exp).cast(T.StringType()), 4, "0"),
            F.translate(digits, "0123456789", "9876543210"),
            F.lit(_NEG_TERM),
        )
        finite = (
            F.when(F.length(digits) == 0, F.lit(_NUM_ZERO))
            .when(neg, neg_seg)
            .otherwise(pos_seg)
        )
        return (
            F.when(s == "NaN", F.lit(_NUM_NAN))
            .when(
                s == "Infinity",
                F.when(neg, F.lit(_NUM_NEG_INF)).otherwise(
                    F.lit(_NUM_POS_INF)
                ),
            )
            .otherwise(finite)
        )

    def stage5(full, s, base, e10, nodot, stripped):
        # significand digits + decimal exponent via ONE unified formula:
        # drop the dot, strip leading zeros (their count + the dot
        # position give the exponent), strip trailing zeros for the
        # significand
        digits = F.regexp_replace(stripped, "0+$", "")
        lead = F.length(nodot) - F.length(stripped)
        dot = F.instr(base, ".")
        ints = F.when(dot > 0, dot - 1).otherwise(F.length(base))
        exp = ints - 1 - lead + e10
        return _let(
            digits,
            lambda d: _let(exp, lambda e: stage6(full, s, d, e)),
        )

    def stage2(full, s):
        # doubles render large/small magnitudes as "<base>E<e10>"
        has_e = F.instr(s, "E") > 0
        base = F.when(has_e, F.substring_index(s, "E", 1)).otherwise(s)
        e10 = F.when(
            has_e, F.substring_index(s, "E", -1).cast(T.IntegerType())
        ).otherwise(F.lit(0))
        return _let(
            base,
            lambda b: _let(
                e10,
                lambda e: _let(
                    F.translate(b, ".", ""),
                    lambda nodot: _let(
                        F.regexp_replace(nodot, "^0+", ""),
                        lambda stripped: stage5(
                            full, s, b, e, nodot, stripped
                        ),
                    ),
                ),
            ),
        )

    def stage1(full):
        neg = F.substring(full, 1, 1) == "-"
        abs_rendering = F.when(
            neg, F.substring(full, F.lit(2), F.length(full))
        ).otherwise(full)
        # NULL input: cast preserves null, so full IS NULL <=> col IS
        # NULL and the class check needs no second reference to col
        return F.when(full.isNull(), F.lit(_NUM_NULL)).otherwise(
            _let(abs_rendering, lambda s: stage2(full, s))
        )

    out = _let(col.cast(T.StringType()), stage1)
    if descending:
        out = F.translate(out, _DESC_SRC, _DESC_DST)
    return out


def encode_ordered_numeric(
    col: Column, *, descending: bool = False
) -> Column:
    """Numeric -> order-preserving BINARY (the OrderedBytes.encodeNumeric
    analog): unsigned byte order equals numeric order with NULLs first
    (last under ``descending``)."""
    return F.encode(
        ordered_numeric_segment(col, descending=descending), "UTF-8"
    )


def decode_ordered_numeric(
    col: Column,
    datatype: T.DataType | str = "decimal(38,18)",
    *,
    descending: bool = False,
) -> Column:
    """Inverse of :func:`encode_ordered_numeric` /
    :func:`ordered_numeric_segment`: binary or string segment back to a
    numeric column (SQL NULL for the NULL class; NaN/±inf only when the
    target type is float/double). Let-bound like the encoder (r14) —
    composed ``decode(encode(v))`` used to duplicate the whole encode
    tree at every one of decode's input references."""
    dt = (
        T._parse_datatype_string(datatype)
        if isinstance(datatype, str)
        else datatype
    )
    floating = isinstance(dt, (T.FloatType, T.DoubleType))

    def rebuild(s, h, digits, exp):
        ndig = F.length(digits)
        # rebuild the plain decimal rendering from (digits, exp)
        plain = (
            F.when(exp >= ndig - 1, F.rpad(digits, exp + 1, "0"))
            .when(
                exp >= 0,
                F.concat(
                    F.substring(digits, F.lit(1), exp + 1),
                    F.lit("."),
                    F.substring(digits, exp + 2, ndig - exp - 1),
                ),
            )
            .otherwise(
                F.concat(F.lit("0."), F.lpad(digits, ndig - exp - 1, "0"))
            )
        )
        return F.when(
            h == _NUM_NEG, F.concat(F.lit("-"), plain)
        ).otherwise(plain)

    def body(s):
        h = F.substring(s, 1, 1)
        n = F.length(s) - 6  # minus header, 4 exp digits, terminator
        raw = F.substring(s, F.lit(6), n)
        pos_exp = F.substring(s, 2, 4).cast(T.IntegerType()) - _EXP_BIAS
        neg_exp = F.lit(_EXP_BIAS) - F.substring(s, 2, 4).cast(
            T.IntegerType()
        )
        digits = F.when(
            h == _NUM_NEG, F.translate(raw, "0123456789", "9876543210")
        ).otherwise(raw)
        exp = F.when(h == _NUM_NEG, neg_exp).otherwise(pos_exp)
        signed = _let(
            digits, lambda d: _let(exp, lambda e: rebuild(s, h, d, e))
        )
        out = (
            F.when(h == _NUM_NULL, F.lit(None).cast(T.StringType()))
            .when(h == _NUM_ZERO, F.lit("0"))
            .otherwise(signed)
        )
        return out, h

    s0 = col.cast(T.StringType())
    if descending:
        s0 = F.translate(s0, _DESC_SRC, _DESC_DST)

    def full_body(s):
        out, h = body(s)
        if floating:
            out = (
                F.when(h == _NUM_NAN, F.lit("NaN"))
                .when(h == _NUM_POS_INF, F.lit("Infinity"))
                .when(h == _NUM_NEG_INF, F.lit("-Infinity"))
                .otherwise(out)
            )
        return out

    return _let(s0, full_body).try_cast(dt)


# DESCENDING string/blob machinery. The reference's Order.DESCENDING is a
# bitwise complement of every encoded byte (Order.java:43 apply(byte[]));
# raw byte complement would leave the printable-string domain, so the desc
# forms hex-expand the content first (hex digits are ASCII-ordered, so byte
# order survives verbatim) and complement per CHARACTER with the involution
# 0<->F, 1<->E, ... — order-reversing over the hex alphabet and its own
# inverse, exactly the role 0xFF-XOR plays on raw bytes. Desc headers sit
# BELOW the desc-numeric header range ('#' blob < '$' string < 'A'..'F'
# numeric values) so a descending union position reverses the ascending
# family order (numerics < strings < blobs becomes blobs < strings <
# numerics); the shared NULL class complements to 'G' and sorts LAST, the
# reference's DESCENDING-null behavior. The high terminator '~' makes a
# prefix sort last, reversing the ascending prefix rule.
_HEX_SRC = "0123456789ABCDEF"
_HEX_DST = "FEDCBA9876543210"
_DESC_NULL = "G"
_DESC_STR_HDR = "$"
_DESC_BLOB_HDR = "#"
_DESC_TERM = "~"


def ordered_string_segment(col: Column, *, descending: bool = False) -> Column:
    """String column -> order-preserving prefix-free segment for
    :func:`ordered_struct`: NULL sorts first; a string that is a prefix
    of another sorts first (terminator 0x01 is below any content byte).
    Content must not contain codepoints below U+0002 (the reference's
    encodeString imposes the same kind of exclusion for its 0x00
    terminator, OrderedBytes.java:661).

    ``descending=True`` reverses the order contract (Order.DESCENDING,
    Order.java:43): strings sort in reverse UTF-8 byte order, a prefix
    sorts LAST, NULL sorts LAST; content is hex-expanded then
    char-complemented, so the U+0002 exclusion does not apply — any
    string encodes."""
    if descending:
        return F.when(col.isNull(), F.lit(_DESC_NULL)).otherwise(
            F.concat(
                F.lit(_DESC_STR_HDR),
                F.translate(F.hex(F.encode(col, "UTF-8")), _HEX_SRC, _HEX_DST),
                F.lit(_DESC_TERM),
            )
        )
    return F.when(col.isNull(), F.lit(_NUM_NULL)).otherwise(
        F.concat(F.lit("T"), col, F.lit("\x01"))
    )


def decode_ordered_string(col: Column, *, descending: bool = False) -> Column:
    """Inverse of :func:`ordered_string_segment` (SQL NULL for the NULL
    class)."""
    s = col.cast(T.StringType())
    if descending:
        return F.when(
            s == _DESC_NULL, F.lit(None).cast(T.StringType())
        ).otherwise(
            F.decode(
                F.unhex(
                    F.translate(
                        F.substring(s, F.lit(2), F.length(s) - 2),
                        _HEX_DST,
                        _HEX_SRC,
                    )
                ),
                "UTF-8",
            )
        )
    return F.when(s == _NUM_NULL, F.lit(None).cast(T.StringType())).otherwise(
        F.substring(s, F.lit(2), F.length(s) - 2)
    )


def ordered_blob_segment(col: Column, *, descending: bool = False) -> Column:
    """Binary column -> order-preserving prefix-free segment — the
    OrderedBlobVar analog (OrderedBytes.java:402 encodeBlobVar): unlike
    the string segment, content may hold ANY byte (0x00 and 0x01
    included). The reference frees its 0x00 terminator by 7-bit-packing
    the payload (8/7x size); this analog hex-expands instead (2x size —
    hex digits are ASCII-ordered, so byte order is preserved verbatim)
    and keeps the same low terminator, trading a denser wire form for
    an encoding Catalyst evaluates as two codegen'd intrinsics. NULL
    sorts first; a blob that is a prefix of another sorts first.

    ``descending=True`` complements the hex content per character
    (the printable analog of the reference's 0xFF-XOR), reversing byte
    order; a prefix sorts LAST, NULL sorts LAST."""
    if descending:
        return F.when(col.isNull(), F.lit(_DESC_NULL)).otherwise(
            F.concat(
                F.lit(_DESC_BLOB_HDR),
                F.translate(F.hex(col), _HEX_SRC, _HEX_DST),
                F.lit(_DESC_TERM),
            )
        )
    return F.when(col.isNull(), F.lit(_NUM_NULL)).otherwise(
        F.concat(F.lit("V"), F.hex(col), F.lit("\x01"))
    )


def decode_ordered_blob(col: Column, *, descending: bool = False) -> Column:
    """Inverse of :func:`ordered_blob_segment` (SQL NULL for the NULL
    class)."""
    s = col.cast(T.StringType())
    if descending:
        return F.when(
            s == _DESC_NULL, F.lit(None).cast(T.BinaryType())
        ).otherwise(
            F.unhex(
                F.translate(
                    F.substring(s, F.lit(2), F.length(s) - 2),
                    _HEX_DST,
                    _HEX_SRC,
                )
            )
        )
    return F.when(s == _NUM_NULL, F.lit(None).cast(T.BinaryType())).otherwise(
        F.unhex(F.substring(s, F.lit(2), F.length(s) - 2))
    )


def ordered_struct(*segments: Column) -> Column:
    """Struct-style composite key (types/Struct.java:67): concatenate
    already-encoded segments into one binary whose flat unsigned byte
    comparison equals field-wise comparison — guaranteed by every
    segment encoding being prefix-free and self-terminating.

    Union2..4 (types/Union2.java and siblings) need no extra machinery:
    every segment family is SELF-IDENTIFYING via its header char
    (numeric classes A-G < string T < blob V), so one struct position
    may hold a numeric segment in some rows and a string/blob segment
    in others; cross-member order falls out of the header bytes exactly
    as the reference's union order falls out of its member encodings
    (all numerics sort before all strings before all blobs, NULL class
    first)."""
    return F.encode(F.concat(*segments), "UTF-8")


# -- Raw-IEEE fixed-length float encodings (OrderedBytes.java:1374,:1468) --
#
# Unlike the printable ordered_numeric family above (which mirrors the
# reference's ORDER semantics in a hex-digit alphabet), these two are
# BYTE-EXACT: header 0x30/0x31, then the IEEE-754 bit pattern with the
# reference's order-preserving transform — flip ALL bits for negatives,
# set the sign bit for positives (encodeFloat32:1377 / encodeFloat64
# :1471: `bits ^= (bits >> SIZE-1) | MIN_VALUE`). DESCENDING complements
# every byte (Order.DESCENDING 0xFF-XOR), done here as a hex-digit
# translate (F<->0, E<->1, ... — the same involution in hex).
# The bit casts Spark SQL lacks come from the JVM itself via the
# built-in reflect() expression (Float.floatToIntBits etc.) — still
# zero Python on the executor path.

_HEX_FWD = "0123456789ABCDEF"
_HEX_INV = "FEDCBA9876543210"


def _complement_bytes(b: Column) -> Column:
    """0xFF-XOR every byte of a binary column: complement in hex."""
    return F.unhex(F.translate(F.hex(b), _HEX_FWD, _HEX_INV))


def encode_float32_ob(col: Column, *, descending: bool = False) -> Column:
    """OrderedBytes encodeFloat32 (:1374), byte-exact. NULL -> NULL
    (the reference encodes NULL at the value level, not here)."""
    bits = F.reflect(
        F.lit("java.lang.Float"), F.lit("floatToIntBits"),
        col.cast(T.FloatType()),
    ).cast(T.LongType())
    u = bits.bitwiseAND(F.lit(0xFFFFFFFF))
    t = F.when(bits < 0, u.bitwiseXOR(F.lit(0xFFFFFFFF))).otherwise(
        u.bitwiseXOR(F.lit(0x80000000))
    )
    out = F.concat(F.unhex(F.lit("30")), F.unhex(F.lpad(F.hex(t), 8, "0")))
    if descending:
        out = _complement_bytes(out)
    return F.when(col.isNull(), F.lit(None).cast(T.BinaryType())).otherwise(
        out
    )


def decode_float32_ob(col: Column, *, descending: bool = False) -> Column:
    """Inverse of encode_float32_ob (decodeFloat32 :1391)."""
    raw = _complement_bytes(col) if descending else col
    body = F.hex(F.substring(raw, 2, 4))
    t = F.conv(body, 16, 10).cast(T.LongType())
    bits = F.when(
        t.bitwiseAND(F.lit(0x80000000)) != 0,
        t.bitwiseXOR(F.lit(0x80000000)),
    ).otherwise(t.bitwiseXOR(F.lit(0xFFFFFFFF)))
    # narrow to signed 32 for the reflect(int) signature
    signed = F.when(
        bits > F.lit(0x7FFFFFFF), bits - F.lit(0x100000000)
    ).otherwise(bits)
    return F.reflect(
        F.lit("java.lang.Float"), F.lit("intBitsToFloat"),
        signed.cast(T.IntegerType()),
    ).cast(T.FloatType())


def encode_float64_ob(col: Column, *, descending: bool = False) -> Column:
    """OrderedBytes encodeFloat64 (:1468), byte-exact."""
    bits = F.reflect(
        F.lit("java.lang.Double"), F.lit("doubleToLongBits"),
        col.cast(T.DoubleType()),
    ).cast(T.LongType())
    t = F.when(bits < 0, F.bitwise_not(bits)).otherwise(
        bits.bitwiseXOR(F.lit(-0x8000000000000000))
    )
    out = F.concat(F.unhex(F.lit("31")), F.unhex(F.lpad(F.hex(t), 16, "0")))
    if descending:
        out = _complement_bytes(out)
    return F.when(col.isNull(), F.lit(None).cast(T.BinaryType())).otherwise(
        out
    )


def decode_float64_ob(col: Column, *, descending: bool = False) -> Column:
    """Inverse of encode_float64_ob (decodeFloat64 :1489)."""
    raw = _complement_bytes(col) if descending else col
    body = F.hex(F.substring(raw, 2, 8))
    # 16-hex-char unsigned -> the signed 64-bit pattern
    t = F.reflect(
        F.lit("java.lang.Long"), F.lit("parseUnsignedLong"),
        body, F.lit(16),
    ).cast(T.LongType())
    bits = F.when(
        t < 0, t.bitwiseXOR(F.lit(-0x8000000000000000))
    ).otherwise(F.bitwise_not(t))
    return F.reflect(
        F.lit("java.lang.Double"), F.lit("longBitsToDouble"), bits
    ).cast(T.DoubleType())
