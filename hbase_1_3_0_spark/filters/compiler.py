"""Filter AST -> Spark: boolean Column expressions + DataFrame transforms.

Design (SURVEY.md §2.2, §4): HBase filters are evaluated server-side per cell
with seek hints; Spark's analog is a *declarative predicate* that Catalyst
pushes into the parquet scan. Each filter compiles to one of:

- a **cell predicate**: a boolean ``Column`` over the cell schema. Row-level
  verdicts (SingleColumnValueFilter, SkipFilter, DependentColumnFilter,
  ColumnPagination...) compile to *single-level window expressions* over
  ``Window.partitionBy('row')`` — still plain Columns, so they compose under
  FilterList AND/OR exactly like the reference's filter tree.
- a **transform** (DataFrame -> DataFrame) for the order-dependent filters
  whose semantics need an aggregation barrier: PageFilter (global row limit),
  WhileMatchFilter (passing prefix), FirstKeyValueMatchingQualifiersFilter,
  and KeyOnlyFilter's cell rewrite (transformCell, Filter.java:136).

FilterList(MUST_PASS_ALL) = AND of predicates + concatenation of transforms;
FilterList(MUST_PASS_ONE) = OR of predicates (transform-bearing members inside
an OR are rejected — same class of restriction as the reference's non-lazy
MUST_PASS_ONE evaluation, FilterList.java:39-52).

Scale: window predicates partition by ``row`` — the key a Table scan
clusters its cells on, so on a scan they cost no exchange — and all pure
predicates stay inside whole-stage codegen. Row verdicts that need a global
step (PageFilter, WhileMatchFilter) are scalar subqueries, not joins.
PrefixFilter / MultiRowRangeFilter compile to row-range conjunctions that
Catalyst turns into partition/row-group pruning (the seek-hint analog).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from dataclasses import replace as dc_replace
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hbase_1_3_0_spark.filters import ast
from hbase_1_3_0_spark.functions import codecs
from hbase_1_3_0_spark.operators.read_view import VERSION_INDEX


def _w_row() -> Window:
    return Window.partitionBy("row")


def _w_cell_order() -> Window:
    """Cell order within a row: (family asc, qualifier asc, ts desc, seq desc)
    — the KVComparator order (KeyValue.java:2110-2123)."""
    return Window.partitionBy("row").orderBy(
        F.col("family").asc(),
        F.col("qualifier").asc(),
        F.col("ts").desc(),
        F.col("seq").desc(),
    )


@dataclass
class Compiled:
    pred: Column | None = None
    transforms: list[Callable[[DataFrame], DataFrame]] = field(default_factory=list)


# ---------------------------------------------------------------------------
# comparators
# ---------------------------------------------------------------------------


def _ordered(op: str, left: Column, right: Column) -> Column:
    if op == ast.CompareOp.LESS:
        return left < right
    if op == ast.CompareOp.LESS_OR_EQUAL:
        return left <= right
    if op == ast.CompareOp.EQUAL:
        return left == right
    if op == ast.CompareOp.NOT_EQUAL:
        return left != right
    if op == ast.CompareOp.GREATER_OR_EQUAL:
        return left >= right
    if op == ast.CompareOp.GREATER:
        return left > right
    if op == ast.CompareOp.NO_OP:
        # CompareFilter NO_OP excludes everything (CompareFilter.java:55-69)
        return F.lit(False)
    raise ValueError(f"unknown CompareOp: {op}")


# RegexStringComparator engines. Both reference engines parse Java regex
# syntax (the JONI Regex is built with Syntax.Java —
# RegexStringComparator.java:338), so both compile to rlike; the engine
# differences are the flag mask, the charset table, and JVM-runtime
# property classes (see ast.RegexStringComparator docstring).

# patternToJoniFlags keeps exactly these three bits
# (RegexStringComparator.java:380-396); everything else silently drops.
_JONI_FLAG_MASK = (
    ast.PATTERN_CASE_INSENSITIVE | ast.PATTERN_DOTALL | ast.PATTERN_MULTILINE
)

# Pattern flag bit -> java.util.regex embedded flag letter (?idxmsuU)
_EMBEDDED_FLAGS = (
    (ast.PATTERN_UNIX_LINES, "d"),
    (ast.PATTERN_CASE_INSENSITIVE, "i"),
    (ast.PATTERN_COMMENTS, "x"),
    (ast.PATTERN_MULTILINE, "m"),
    (ast.PATTERN_DOTALL, "s"),
    (ast.PATTERN_UNICODE_CASE, "u"),
    (ast.PATTERN_UNICODE_CHARACTER_CLASS, "U"),
)

# The two charsets this engine decodes (the ones the reference javadoc
# names: UTF-8 default, ISO-8859-1 recommended for arbitrary-byte keys —
# RegexStringComparator.java:143-145). Both exist in the JVM Charset
# table (JAVA engine) and in jcodings EncodingDB (JONI engine).
_REGEX_CHARSETS = ("UTF-8", "ISO-8859-1")


def compile_regex_pattern(cmp: ast.RegexStringComparator) -> str:
    """Resolve (pattern, flags, engine) to ONE java.util.regex pattern
    string with embedded flag groups, suitable for ``rlike``.

    Raises NotImplementedError for the constructs that cannot be
    expressed (CANON_EQ under JAVA; ``\\p{javaXxx}`` under JONI —
    joni has no JVM character-type tables)."""
    engine = cmp.engine.upper()
    if engine not in ("JAVA", "JONI"):
        raise ValueError(f"unknown regex engine: {cmp.engine!r} (JAVA|JONI)")
    pattern, flags = cmp.pattern, cmp.flags
    if engine == "JONI":
        flags &= _JONI_FLAG_MASK
        # oniguruma's newline model is '\n' only (both for '.' exclusion
        # and for MULTILINE ^/$ anchoring), vs java.util.regex's
        # \n/\r/\r\n/NEL/LS/PS set — Java's UNIX_LINES flag IS that
        # model, so JONI always compiles with it.
        flags |= ast.PATTERN_UNIX_LINES
        # joni IGNORECASE over UTF8Encoding applies Unicode case folding
        # (the Ruby model), where bare java (?i) folds ASCII only — so
        # JONI case-insensitivity compiles to (?iu).
        if flags & ast.PATTERN_CASE_INSENSITIVE:
            flags |= ast.PATTERN_UNICODE_CASE
        for probe in ("\\p{java", "\\P{java"):
            if probe in pattern:
                raise NotImplementedError(
                    f"JONI engine: {probe}...}} JVM-runtime property classes "
                    "are a java.util.regex extension joni does not implement"
                )
    else:
        if flags & ast.PATTERN_CANON_EQ:
            raise NotImplementedError(
                "Pattern.CANON_EQ has no embedded-flag/rlike analog"
            )
    if flags & ast.PATTERN_LITERAL:
        # Pattern.LITERAL: the whole expression is a literal and only
        # CASE_INSENSITIVE / UNICODE_CASE remain meaningful (Pattern
        # javadoc). Quote via \Q...\E, splitting any embedded \E.
        pattern = "\\Q" + pattern.replace("\\E", "\\E\\\\E\\Q") + "\\E"
        flags &= ast.PATTERN_CASE_INSENSITIVE | ast.PATTERN_UNICODE_CASE
    letters = "".join(ch for bit, ch in _EMBEDDED_FLAGS if flags & bit)
    return f"(?{letters}){pattern}" if letters else pattern


def _decode_for_regex(col: Column, cmp: ast.RegexStringComparator) -> Column:
    """Binary -> string under the comparator's charset (setCharset,
    RegexStringComparator.java:147-149). UTF-8 uses the lenient cast
    (``new String(bytes)`` never throws); ISO-8859-1 is total by
    construction. Unknown names fail like the reference's
    Charset.forName / jcodings EncodingDB lookup."""
    name = cmp.charset.upper()
    if name == "UTF-8":
        return codecs.decode_string(col)
    if name == "ISO-8859-1":
        return F.decode(col, "ISO-8859-1")
    raise NotImplementedError(
        f"charset {cmp.charset!r}: this engine decodes {_REGEX_CHARSETS} "
        "(the charsets the reference javadoc names)"
    )


def compile_compare(col: Column, op: str, cmp: ast.Comparator) -> Column:
    """Apply (op, comparator) to a BinaryType column — the CompareFilter core."""
    if isinstance(cmp, ast.BinaryComparator):
        return _ordered(op, col, F.lit(cmp.value))
    if isinstance(cmp, ast.BinaryPrefixComparator):
        n = len(cmp.value)
        return _ordered(op, F.substring(col, 1, n), F.lit(cmp.value))
    if isinstance(cmp, ast.LongComparator):
        if cmp.codec == "be8":
            decoded = codecs.decode_long_be(col)
        else:
            decoded = codecs.decode_value(col, "bigint")
        return _ordered(op, decoded, F.lit(cmp.value))
    if isinstance(cmp, ast.NullComparator):
        return _match_op(op, col.isNull())
    if isinstance(cmp, ast.RegexStringComparator):
        m = _decode_for_regex(col, cmp).rlike(compile_regex_pattern(cmp))
        return _match_op(op, m)
    if isinstance(cmp, ast.SubstringComparator):
        m = F.lower(codecs.decode_string(col)).contains(cmp.substr.lower())
        return _match_op(op, m)
    if isinstance(cmp, ast.BitComparator):
        # BitComparator.java:112-118: compareTo is 1 (no match) when the
        # value length differs from the mask length; otherwise 0 (match) iff
        # some byte of (value <bitop> mask) is non-zero. EQUAL includes on
        # match; NOT_EQUAL includes on no-match (including length mismatch).
        # Arbitrary mask length: one codegen'd byte expression per mask byte.
        if cmp.bit_op not in ("AND", "OR", "XOR"):
            raise ValueError(f"unknown bit_op: {cmp.bit_op}")
        nonzero = F.lit(False)
        for i, mask_byte in enumerate(cmp.value):
            b = F.conv(F.hex(F.substring(col, i + 1, 1)), 16, 10).cast("int")
            if cmp.bit_op == "AND":
                res = b.bitwiseAND(F.lit(mask_byte))
            elif cmp.bit_op == "OR":
                res = b.bitwiseOR(F.lit(mask_byte))
            else:
                res = b.bitwiseXOR(F.lit(mask_byte))
            nonzero = nonzero | (res != 0)
        match = (F.length(col) == len(cmp.value)) & nonzero
        return _match_op(op, match)
    raise NotImplementedError(f"comparator: {type(cmp).__name__}")


def _match_op(op: str, m: Column) -> Column:
    """CompareFilter.doCompare (CompareFilter.java:100-123) over a
    {0,1}-valued comparator — Substring/Regex/Bit/Null compareTo returns
    0 on match and 1 otherwise, so the six order ops collapse: the
    filter excludes iff {LESS: r<=0, LESS_OR_EQUAL: r<0, EQUAL: r!=0,
    NOT_EQUAL: r==0, GREATER_OR_EQUAL: r>0, GREATER: r>=0}, hence the
    cell is INCLUDED iff {EQUAL, GREATER_OR_EQUAL}: match;
    {NOT_EQUAL, LESS}: no-match; LESS_OR_EQUAL: always; {GREATER,
    NO_OP}: never. (Previously the four order ops were compiled to
    constant-exclude; found by the reference protocol walker,
    tests/test_filter_protocol_property.py.)"""
    if op in (ast.CompareOp.EQUAL, ast.CompareOp.GREATER_OR_EQUAL):
        return m
    if op in (ast.CompareOp.NOT_EQUAL, ast.CompareOp.LESS):
        return ~m
    if op == ast.CompareOp.LESS_OR_EQUAL:
        return F.lit(True)
    return F.lit(False)


def prefix_successor(prefix: bytes) -> bytes | None:
    """Smallest byte string greater than every string with this prefix
    (the PrefixFilter -> row-range rewrite; enables partition pruning)."""
    b = bytearray(prefix)
    while b and b[-1] == 0xFF:
        b.pop()
    if not b:
        return None
    b[-1] += 1
    return bytes(b)


def _range_pred(
    start: bytes | None,
    start_inc: bool,
    stop: bytes | None,
    stop_inc: bool,
    col: Column | None = None,
) -> Column:
    col = F.col("row") if col is None else col
    conds = []
    if start is not None and len(start) > 0:
        conds.append(col >= F.lit(start) if start_inc else col > F.lit(start))
    if stop is not None and len(stop) > 0:
        conds.append(col <= F.lit(stop) if stop_inc else col < F.lit(stop))
    if not conds:
        return F.lit(True)
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


# MultiRowRangeFilter compilation tiers (measured on the sf0.1 lineitem
# read path, local[32] — see SCALING.md "many-range membership"):
# - R <= _MULTI_RANGE_OR_MAX: plain OR of range conjunctions — fully
#   pushdown-prunable, whole-stage codegen.
# - beyond: parity binary search as a fold over ceil(log2(2R))+1
#   iterations probing ONE constant-folded literal boundary array with
#   element_at — expression size O(log R) regardless of R, so 10k-100k
#   range scans (the PE randomSeekScan shape at cluster scale) stay
#   O(log R)/row. A balanced when/otherwise decision tree was measured
#   and rejected: its O(R) expression node count drops it out of
#   whole-stage codegen and the fold beat it at every R tested
#   (R=100: 0.94s vs 1.6s; R=1000: 2.2s vs 9.0s; R=10000: 12.8s vs 83s).
_MULTI_RANGE_OR_MAX = 16
_MULTI_RANGE_ENVELOPES = 16


def _sort_and_merge_ranges(
    ranges,
) -> list[tuple[bytes, bytes | None]]:
    """Normalize RowRanges to sorted, disjoint half-open byte intervals
    [s, e) — e=None means +inf (the reference's sortAndMerge,
    MultiRowRangeFilter.java:254). Byte-string successor arithmetic
    absorbs inclusivity: row > s  <=>  row >= s + b'\\x00' and
    row <= e  <=>  row < e + b'\\x00'."""
    norm: list[tuple[bytes, bytes | None]] = []
    for r in ranges:
        s = r.start_row or b""
        if s and not r.start_inclusive:
            s = s + b"\x00"
        if r.stop_row is None or len(r.stop_row) == 0:
            e: bytes | None = None
        else:
            e = r.stop_row + b"\x00" if r.stop_inclusive else r.stop_row
        if e is not None and e <= s:
            continue  # empty range
        norm.append((s, e))
    norm.sort(key=lambda se: se[0])
    merged: list[tuple[bytes, bytes | None]] = []
    for s, e in norm:
        if merged and (merged[-1][1] is None or s <= merged[-1][1]):
            ps, pe = merged[-1]
            if pe is not None and (e is None or e > pe):
                merged[-1] = (ps, e)
        else:
            merged.append((s, e))
    return merged


def _bisect_right_fold(bounds: list[bytes], col: Column) -> Column:
    """Count of ``bounds`` (sorted) <= col, as an iterative binary search:
    a fold over ceil(log2(n))+1 fixed iterations that each probe the
    literal boundary array with ``element_at`` — the Spark analog of the
    reference's Collections.binarySearch seek hint
    (MultiRowRangeFilter.java:225). The boundary array constant-folds to
    a single Literal, so expression size is O(log n) regardless of n."""
    import math

    arr = F.array(*[F.lit(b) for b in bounds])
    steps = max(1, math.ceil(math.log2(len(bounds) + 1)) + 1)
    init = F.struct(
        F.lit(0).alias("lo"), F.lit(len(bounds)).alias("hi")
    )

    def it(st: Column, _: Column) -> Column:
        lo, hi = st["lo"], st["hi"]
        mid = F.shiftright(lo + hi, 1)
        ge = col >= F.element_at(arr, mid + 1)
        active = lo < hi
        return F.struct(
            F.when(active & ge, mid + 1).otherwise(lo).alias("lo"),
            F.when(active & ~ge, mid).otherwise(hi).alias("hi"),
        )

    return F.aggregate(F.sequence(F.lit(1), F.lit(steps)), init, it)["lo"]


def _multi_row_range_pred(ranges, col: Column | None = None) -> Column:
    """Union-of-row-ranges membership.

    Small R (after sortAndMerge): a plain OR of range conjunctions —
    Catalyst pushes the whole disjunction to the parquet scan for
    row-group pruning.

    Large R: the OR becomes O(R) comparisons per surviving row (the PE
    randomSeekScan shape — 10k seeks — pays R per row). Instead: parity
    binary search. Merged disjoint half-open intervals flatten to a
    sorted boundary array [s1,e1,s2,e2,...]; a row is inside the union
    iff the number of boundaries <= row is ODD. The bisect is an
    iterative element_at fold over a single literal boundary array
    (expression size O(log R), so even 100k ranges evaluate in O(log R)
    per row), and a coarse <=16-envelope OR is ANDed on so the scan
    still prunes row groups — the exact bisect itself is not
    pushdown-expressible."""
    col = F.col("row") if col is None else col
    merged = _sort_and_merge_ranges(ranges)
    if not merged:
        return F.lit(False)
    if len(merged) <= _MULTI_RANGE_OR_MAX:
        pred = F.lit(False)
        for s, e in merged:
            pred = pred | _range_pred(s or None, True, e, False, col)
        return pred
    bounds: list[bytes] = []
    for s, e in merged:
        bounds.append(s)
        if e is not None:
            bounds.append(e)
    exact = F.pmod(_bisect_right_fold(bounds, col), F.lit(2)) == F.lit(1)
    # coarse prunable envelope: chunk the merged ranges into at most
    # _MULTI_RANGE_ENVELOPES contiguous groups, OR their hulls
    n = len(merged)
    step = (n + _MULTI_RANGE_ENVELOPES - 1) // _MULTI_RANGE_ENVELOPES
    envelope = F.lit(False)
    for i in range(0, n, step):
        chunk = merged[i : i + step]
        s, e = chunk[0][0], chunk[-1][1]
        envelope = envelope | _range_pred(s or None, True, e, False, col)
    return envelope & exact


# ---------------------------------------------------------------------------
# per-filter compilation
# ---------------------------------------------------------------------------


def _scvf_multi_transform(
    fs: list[ast.SingleColumnValueFilter],
    single_version: bool = False,
    combine: str = "and",
) -> Callable[[DataFrame], DataFrame]:
    """AND- or OR-composed SCVFs as ONE aggregation + ONE semi/anti-join.

    ``combine='or'`` is the MUST_PASS_ONE form: in the reference the SCVF
    cell verdict lands in filterRow (SingleColumnValueFilter.java:219-222)
    and its filterKeyValue returns INCLUDE for every cell WHEN
    latestVersionOnly=false or while the column is unmatched — a
    latestVersionOnly member whose latest tested version fails instead
    returns NEXT_ROW (:176-178,:184-185), a seek shortcut that under
    MUST_PASS_ONE cannot drop the row by itself (any sibling INCLUDE wins
    per cell, and the list's filterRow ORs the members' row verdicts,
    FilterList.java MUST_PASS_ONE branch). The ROW-level outcome of a
    pure-SCVF MUST_PASS_ONE list is therefore: keep a row iff ANY
    member's row verdict keeps it — a row-level OR, which this join form
    computes without the full scan-on-row shuffle the window-predicate
    form pays.

    This form serves UNCLUSTERED input only: the MapReduce jobs' filters
    and a clean-log scan. There the window form would shuffle the ENTIRE
    scan by row, and a per-filter join pays one shuffle of the big side
    per filter. Here all tested columns reduce in a single groupBy over
    only their cells (pushdown-friendly family/qualifier predicate), the
    per-row verdict is the AND of each filter's verdict, and one join
    applies it — AQE broadcasts the row set when it is selective, so the
    big side is often never shuffled. Input clustered by row judges SCVFs
    as windows over ``row`` instead (:func:`compile_matcher`).

    All aggregates are plain int max() so the groupBy plans as a
    HashAggregate (a max-over-struct buffer would force a SortAggregate,
    whose generated sort-based code also JIT-compiles an order of magnitude
    slower). ``latest_version_only`` needs a per-column version rank, added
    as a row_number window over only the tested cells — and skipped
    entirely when ``single_version`` says the input carries one version
    per column (a clean log, a default scan).

    Verdict per filter (SingleColumnValueFilter.java:73 semantics):
    column present -> compare (latest version only, or any version);
    column absent -> include iff ``filter_if_missing`` is False.
    """
    matches = [
        (F.col("family") == f.family) & (F.col("qualifier") == F.lit(f.qualifier))
        for f in fs
    ]
    need_version_rank = not single_version and any(
        f.latest_version_only for f in fs
    )

    def t(df: DataFrame, base: DataFrame | None = None) -> DataFrame:
        # The verdict stream is the PRE-sibling-predicate frame ``base``.
        # The reference consults SCVF filterKeyValue before every sibling
        # in canonical member order, so a sibling cell predicate
        # (ValueFilter etc.) must NOT hide the tested column's cells from
        # the verdict — a row whose tested cell the sibling strips is still
        # found-and-judged, not "missing" (caught by the r13 protocol
        # walker on AND(OR(SCVF), ValueFilter)).
        any_match = matches[0]
        for m in matches[1:]:
            any_match = any_match | m
        tested = (base if base is not None else df).where(any_match)
        newest = F.lit(True)
        if need_version_rank:
            tested = tested.withColumn("_rn", _newest_version_rank())
            newest = F.col("_rn") == 1
        aggs = []
        for i, (f, cm) in enumerate(zip(fs, matches)):
            scope = (cm & newest) if f.latest_version_only else cm
            per_cell = scope & F.coalesce(
                compile_compare(F.col("value"), f.op, f.comparator), F.lit(False)
            )
            aggs.append(F.max(F.when(cm, F.lit(1))).alias(f"_e{i}"))
            aggs.append(F.max(F.when(per_cell, F.lit(1))).alias(f"_p{i}"))
        flags = tested.groupBy("row").agg(*aggs)
        verdict = None
        for i, f in enumerate(fs):
            v = F.when(
                F.col(f"_e{i}") == 1,
                F.coalesce(F.col(f"_p{i}") == 1, F.lit(False)),
            ).otherwise(F.lit(not f.filter_if_missing))
            if verdict is None:
                verdict = v
            else:
                verdict = (verdict | v) if combine == "or" else (verdict & v)
        # The verdict row set goes behind its OWN exchange. AQE sizes a
        # join's build side by its materialized shuffle stage, and
        # without this the stage it sees is the PRE-aggregate partials
        # of every tested cell (tens of MB at sf0.1 — over the adaptive
        # broadcast threshold), so the join stayed SortMergeJoin and the
        # whole scan shuffled on row (measured in the r10 scale probe).
        # The exchange must be ROUND-ROBIN: a hash-on-row repartition is
        # elided as a no-op (the aggregate already hash-partitioned on
        # row) and AQE keeps the pessimistic estimate. With a real stage
        # boundary the materialized stats are the post-verdict row set
        # itself: small/selective -> AQE converts the join to broadcast
        # and the scanned side never shuffles; genuinely huge -> SMJ
        # stands, paying one narrow row-set shuffle for the stats.
        def _staged(rows: DataFrame) -> DataFrame:
            n = int(
                rows.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
            return rows.repartition(n)

        # join polarity from the verdict of a row carrying NONE of the
        # tested columns (such rows never reach the flags frame): each
        # member's missing verdict is `not filter_if_missing`, combined
        # with the list operator
        missing_defaults = [not f.filter_if_missing for f in fs]
        missing_passes = (
            any(missing_defaults) if combine == "or" else all(missing_defaults)
        )
        # absent rows pass -> anti join against the failing row set;
        # rows with none of the tested columns are excluded -> semi join
        rows = flags.where(~verdict if missing_passes else verdict).select("row")
        out = df.join(
            _staged(rows), "row", "left_anti" if missing_passes else "left_semi"
        )
        for f, cm in zip(fs, matches):
            if isinstance(f, ast.SingleColumnValueExcludeFilter):
                out = out.where(~cm)
        return out

    t._scvf_verdict = True
    return t


def _skip_transform(
    pred: Column, clustered: bool = False
) -> Callable[[DataFrame], DataFrame]:
    """SkipFilter: drop every row owning a failing cell — a window over
    ``row`` on input clustered by row, an anti-join otherwise."""

    def t(df: DataFrame) -> DataFrame:
        # withColumn materialization: pred may itself hold window exprs
        # (e.g. SKIP over an OR of row-level filters), which can't sit in
        # a WHERE clause, or inside another window, directly.
        flagged = df.withColumn("_sk", pred)
        if clustered:
            # a NULL verdict fails nothing, as in the anti-join form
            all_pass = F.coalesce(F.min("_sk").over(_w_row()), F.lit(True))
            return flagged.withColumn("_sk", all_pass).where("_sk").drop("_sk")
        failing = flagged.where(~F.col("_sk")).select("row").distinct()
        return df.join(failing, "row", "left_anti")

    return t


def _skip_code_pred(g: ast.Filter, reversed_scan: bool) -> Column:
    """The SkipFilter-visible per-cell INCLUDE predicate of a wrapped
    filter. Skip consults ONLY filterKeyValue codes (SkipFilter.java:
    79-83) and never invokes the wrapped filter's filterRowKey
    (SkipFilter inherits FilterBase.filterRowKey), so filters whose row
    verdict lives in filterRowKey state degenerate under Skip:

    * RowFilter.filterOutRow (RowFilter.java:66-71),
      InclusiveStopFilter.done (InclusiveStopFilter.java:62-72) and
      RandomRowFilter.filterOutRow (RandomRowFilter.java:99-116) are
      never set -> every code is INCLUDE -> identity members;
    * PrefixFilter RESETS its per-row flag to TRUE
      (PrefixFilter.java:83-85) and filterKeyValue returns NEXT_ROW
      while it is set (PrefixFilter.java:70-73) -> every cell fails ->
      Skip(PrefixFilter) drops every row;
    * SCVF emits non-INCLUDE codes only under latestVersionOnly
      (NEXT_ROW on the failing tested column,
      SingleColumnValueFilter.java:171-188); filterIfMissing lives in
      the never-consulted filterRow -> the fim=False verdict form
      (lvo=false emits INCLUDE for every cell -> identity). The
      SingleColumnValueExcludeFilter subclass strips nothing under Skip
      (its filterRowCells is never forwarded).

    FilterLists combine member include-codes: MUST_PASS_ALL returns the
    first non-INCLUDE code (AND of includes, FilterList.java:260-276);
    MUST_PASS_ONE includes iff any member includes (OR,
    FilterList.java:278-296). MultiRowRangeFilter (filterRowKey-state
    with a code cache) keeps the intuitive range predicate — a
    documented simplification of a pathological corner."""
    if isinstance(g, ast.FilterList):
        out = None
        for x in g.filters:
            p = _skip_code_pred(x, reversed_scan)
            if out is None:
                out = p
            elif g.operator == "MUST_PASS_ALL":
                out = out & p
            else:
                out = out | p
        return out if out is not None else F.lit(True)
    if isinstance(
        g, (ast.RowFilter, ast.InclusiveStopFilter, ast.RandomRowFilter)
    ):
        return F.lit(True)
    if isinstance(g, ast.PrefixFilter):
        return F.lit(False)
    if isinstance(g, ast.SingleColumnValueFilter):
        if not g.latest_version_only:
            return F.lit(True)
        return _scvf_pred(dc_replace(g, filter_if_missing=False))
    inner = compile_filter(g, allow_transform=False, reversed_scan=reversed_scan)
    if inner.transforms:
        raise NotImplementedError("SkipFilter cannot wrap order-dependent filters")
    return inner.pred


def _scvf_pred(
    f: ast.SingleColumnValueFilter, versions: int | None = None
) -> Column:
    """The SCVF verdict as a window over ``row``. ``versions``: an
    any-version SCVF judges only the newest ``versions`` versions of its
    column, by the version index ``_vi`` the input carries
    (read_view.VERSION_INDEX); 1 judges the newest cell, as
    latestVersionOnly=true does. None judges every cell of the input."""
    colmatch = (F.col("family") == f.family) & (F.col("qualifier") == F.lit(f.qualifier))
    exists = F.max(F.when(colmatch, F.lit(1)).otherwise(F.lit(0))).over(_w_row()) == 1
    if f.latest_version_only or versions == 1:
        # newest version's value via struct-max over one window pass:
        # max(struct(ts, seq, value)) == the (ts,seq)-greatest cell's struct.
        latest = F.max(
            F.when(colmatch, F.struct(F.col("ts"), F.col("seq"), F.col("value")))
        ).over(_w_row())
        matched = exists & compile_compare(latest["value"], f.op, f.comparator)
    else:
        per_cell = colmatch & compile_compare(F.col("value"), f.op, f.comparator)
        if versions is not None:
            per_cell = per_cell & (F.col("_vi") <= versions)
        matched = (
            F.max(F.when(per_cell, F.lit(1)).otherwise(F.lit(0))).over(_w_row()) == 1
        )
    include_missing = F.lit(not f.filter_if_missing)
    pred = matched | (~exists & include_missing)
    if isinstance(f, ast.SingleColumnValueExcludeFilter):
        pred = pred & ~colmatch
    return pred


def _dependent_pred(f: ast.DependentColumnFilter) -> Column:
    refmatch = (F.col("family") == f.family) & (F.col("qualifier") == F.lit(f.qualifier))
    if f.op is not None and f.comparator is not None:
        refmatch = refmatch & compile_compare(F.col("value"), f.op, f.comparator)
    ref_ts = F.collect_set(F.when(refmatch, F.col("ts"))).over(_w_row())
    pred = F.coalesce(F.array_contains(ref_ts, F.col("ts")), F.lit(False))
    if f.drop_dependent_column:
        pred = pred & ~refmatch
    return pred


def first_rows(df: DataFrame, n: int, reversed_scan: bool = False) -> DataFrame:
    """The cells of the first ``n`` rows of ``df`` in scan order (row-key
    order, descending for a reversed scan): PageFilter and the scan's row
    limit. The n-th row key is one scalar subquery — orderBy+limit plans as
    TakeOrderedAndProject (no full sort) — and a cell is kept iff its row
    is not past it: no join. On one pinned partition that plans no
    exchange; on hash-clustered cells the subquery reads the range with
    fewer columns than the scan, so its own exchange is not reused."""
    order = F.col("row").desc() if reversed_scan else F.col("row").asc()
    last = F.min("row") if reversed_scan else F.max("row")
    edge = df.select("row").distinct().orderBy(order).limit(n).agg(last).scalar()
    return df.where(F.col("row") >= edge if reversed_scan else F.col("row") <= edge)


def _page_transform(n: int, reversed_scan: bool = False) -> Callable[[DataFrame], DataFrame]:
    return lambda df: first_rows(df, n, reversed_scan)


def _while_match_transform(
    wrapped: ast.Filter, reversed_scan: bool = False
) -> Callable[[DataFrame], DataFrame]:
    inner = compile_filter(
        wrapped, allow_transform=False, reversed_scan=reversed_scan
    )
    if inner.transforms:
        raise NotImplementedError(
            "WhileMatchFilter cannot wrap order-dependent filters"
        )

    def t(df: DataFrame) -> DataFrame:
        flagged = df.withColumn("_wm_pass", inner.pred)
        # The scan stops at the first non-INCLUDE verdict IN CELL ORDER:
        # WhileMatchFilter.filterKeyValue sets filterAllRemaining on any
        # non-INCLUDE inner code (WhileMatchFilter.java:110-114), and the
        # matcher checks filterAllRemaining before EVERY cell
        # (ScanQueryMatcher.java:283-286 -> DONE_SCAN), so the cells of
        # the failing row that were already INCLUDEd — the passing KV
        # prefix (family asc, qualifier asc, ts desc) strictly before the
        # first failing cell — survive: the store scanner keeps the
        # partial result list on DONE_SCAN (StoreScanner.java:608-610)
        # and FilterWrapper emits a non-empty partial through
        # filterRow(), which is false for cell-level inner filters.
        # Row-level inner filters (RowFilter/Prefix/InclusiveStop/SCVF
        # verdicts) compile to a row-constant predicate, so their failing
        # row's prefix is empty — exactly the filterRowKey/filterRow
        # protocol, where a row-level failure never emits partials.
        failing = flagged.where(~F.col("_wm_pass"))
        cell_pos = F.struct(
            F.col("family").alias("f"),
            F.col("qualifier").alias("q"),
            (-F.col("ts")).alias("nts"),
            (-F.col("seq")).alias("nseq"),
        )
        # The first failing cell in scan order, as one scalar subquery: the
        # first failing cell of each row, then the first such row (rows
        # descend on a reversed scan, cells within a row still ascend).
        # Per-row minima keep the cell order inside a row either way.
        edge = F.max if reversed_scan else F.min
        ff = (
            failing.groupBy("row")
            .agg(F.min(cell_pos).alias("c"))
            .agg(edge(F.struct(F.col("row").alias("r"), F.col("c"))))
            .scalar()
        )
        before = (
            F.col("row") > ff["r"] if reversed_scan else F.col("row") < ff["r"]
        )
        keep = before | ((F.col("row") == ff["r"]) & (cell_pos < ff["c"]))
        return flagged.where(ff.isNull() | keep).drop("_wm_pass")

    return t


def _while_match_range_rewrite(
    wrapped: ast.Filter, reversed_scan: bool
) -> Column | None:
    """WhileMatch(RowFilter) with a MONOTONE row predicate == a pure row-range
    predicate — the passing prefix is exactly the predicate's range, so the
    whole construct collapses to a prunable WHERE clause (partition/row-group
    pruning instead of scan + truncate). Forward scans: LESS/LESS_OR_EQUAL
    (pred true on a prefix of ascending keys); reversed: GREATER/
    GREATER_OR_EQUAL. Non-monotone predicates (e.g. NOT_EQUAL: the scan only
    stops if the excluded key actually occurs) keep the generic transform."""
    if not (
        isinstance(wrapped, ast.RowFilter)
        and isinstance(wrapped.comparator, ast.BinaryComparator)
    ):
        return None
    op = wrapped.op
    x = F.lit(wrapped.comparator.value)
    if not reversed_scan:
        if op == ast.CompareOp.LESS:
            return F.col("row") < x
        if op == ast.CompareOp.LESS_OR_EQUAL:
            return F.col("row") <= x
    else:
        if op == ast.CompareOp.GREATER:
            return F.col("row") > x
        if op == ast.CompareOp.GREATER_OR_EQUAL:
            return F.col("row") >= x
    return None


def _newest_version_rank() -> Column:
    """Version rank within one column: 1 == the newest visible version
    ((ts desc, seq desc) — the matcher's walk order within a column)."""
    return F.row_number().over(
        Window.partitionBy("row", "family", "qualifier").orderBy(
            F.col("ts").desc(), F.col("seq").desc()
        )
    )


def _column_offset_transform(
    limit: int, column_offset: bytes
) -> Callable[[DataFrame], DataFrame]:
    """ColumnPaginationFilter byte[] bookmark variant
    (ColumnPaginationFilter.java:77 + getNextCellHint): per row, pagination
    starts at the first column (in (family, qualifier) order) whose qualifier
    >= columnOffset; ``limit`` columns are returned from there, possibly
    spanning families. INCLUDE_AND_NEXT_COL => only the newest version of
    each included column."""

    def t(df: DataFrame) -> DataFrame:
        idx = F.dense_rank().over(
            Window.partitionBy("row").orderBy("family", "qualifier")
        )
        vr = F.row_number().over(
            Window.partitionBy("row", "family", "qualifier").orderBy(
                F.col("ts").desc(), F.col("seq").desc()
            )
        )
        d = df.withColumn("_ci", idx).withColumn("_vr", vr)
        start = F.min(
            F.when(F.col("qualifier") >= F.lit(column_offset), F.col("_ci"))
        ).over(_w_row())
        d = d.withColumn("_si", start)
        return (
            d.where(
                F.col("_si").isNotNull()
                & (F.col("_ci") >= F.col("_si"))
                & (F.col("_ci") < F.col("_si") + limit)
                & (F.col("_vr") == 1)
            )
            .drop("_ci", "_vr", "_si")
        )

    return t


def _fkmq_transform(
    qualifiers: tuple[bytes, ...]
) -> Callable[[DataFrame], DataFrame]:
    def t(df: DataFrame) -> DataFrame:
        rn = F.row_number().over(_w_cell_order())
        is_match = F.col("qualifier").isin([F.lit(q) for q in qualifiers])
        flagged = df.withColumn("_rn", rn).withColumn(
            "_mrn", F.min(F.when(is_match, F.col("_rn"))).over(_w_row())
        )
        return (
            flagged.where(F.col("_mrn").isNull() | (F.col("_rn") <= F.col("_mrn")))
            .drop("_rn", "_mrn")
        )

    return t


def _key_only_transform(len_as_val: bool) -> Callable[[DataFrame], DataFrame]:
    def t(df: DataFrame) -> DataFrame:
        if len_as_val:
            newval = codecs.encode_int_be(
                F.coalesce(F.length(F.col("value")), F.lit(0))
            )
        else:
            newval = F.lit(None).cast("binary")
        return df.withColumn("value", newval)

    return t


#: Filters whose compiled form is a plain per-cell predicate (no window
#: expressions, no row-level transforms). These can run BEFORE version
#: counting inside the read view, reproducing ScanQueryMatcher's order
#: (filter verdict precedes ColumnTracker version counting, so a failing
#: newer version is SKIPped rather than consuming a version slot).
_CELL_PRED_TYPES = (
    ast.RowFilter,
    ast.FamilyFilter,
    ast.QualifierFilter,
    ast.ValueFilter,
    ast.PrefixFilter,
    ast.ColumnPrefixFilter,
    ast.MultipleColumnPrefixFilter,
    ast.ColumnRangeFilter,
    ast.TimestampsFilter,
    ast.FuzzyRowFilter,
    ast.MultiRowRangeFilter,
    ast.InclusiveStopFilter,
    ast.RandomRowFilter,
)


def is_cell_predicate(f: ast.Filter | None) -> bool:
    """True when the whole filter tree compiles to a window-free per-cell
    predicate, eligible for pre-version-count evaluation in the read view."""
    if f is None:
        return False
    if isinstance(f, ast.FilterList):
        return all(is_cell_predicate(x) for x in f.filters)
    return type(f) in _CELL_PRED_TYPES


@dataclass
class Matcher:
    """A scan filter split where ScanQueryMatcher judges it
    (:func:`compile_matcher`): ``keep`` before the version quota, ``rest``
    after it. ``version_index``: ``keep`` reads ``_vi``
    (read_view.VERSION_INDEX)."""

    keep: Column | None = None
    rest: ast.Filter | None = None
    version_index: bool = False

    def judge(self, cells: DataFrame) -> DataFrame:
        """The cells ``keep`` passes, its row verdicts read over all of
        ``cells`` (clustered by row: the windows plan no exchange)."""
        if self.keep is None:
            return cells
        if self.version_index:
            cells = cells.selectExpr("*", f"{VERSION_INDEX} AS _vi")
        keep = cells.withColumn("_keep", self.keep).where("_keep")
        return keep.drop("_keep", "_vi")


def _members(f: ast.Filter) -> list[ast.Filter]:
    """The MUST_PASS_ALL members of ``f`` in order, nested lists flattened."""
    if isinstance(f, ast.FilterList) and f.operator == "MUST_PASS_ALL":
        return [m for x in f.filters for m in _members(x)]
    return [f]


def compile_matcher(
    f: ast.Filter | None,
    reversed_scan: bool = False,
    versions: dict[str, int] | None = None,
) -> Matcher:
    """Split a scan filter at the version quota. ScanQueryMatcher runs the
    filter before the column tracker counts versions (SQM:283-410), so a
    newer version the filter rejects takes no version slot.

    ``keep`` takes the members of ``f`` (a lone filter, or a MUST_PASS_ALL
    list flattened) in order, up to the first order-dependent one:
    - per-cell predicates (:func:`is_cell_predicate`);
    - SCVF/SCVEF verdicts, alone or as a MUST_PASS_ONE list of plain SCVFs:
      windows over ``row``, read over every visible cell before any sibling
      predicate (canonical member order puts SCVFs first). A
      latestVersionOnly=true SCVF judges the newest version of its column,
      a latestVersionOnly=false one its newest ``versions[family]`` versions
      (all of them for an unlisted family;
      TestSingleColumnValueFilter.java:134-139).
    That member and every later one are ``rest``: they judge the
    version-limited cells with their own forms. The reference evaluates a
    list's members lazily in member order (FilterList.java:260-276), so a
    cell predicate after a stateful member sees only what that member saw."""
    versions = versions or {}
    keep, rest, version_index = None, [], False
    members = _members(f) if f is not None else []
    for i, m in enumerate(members):
        scvfs = [m] if isinstance(m, ast.SingleColumnValueFilter) else []
        if (
            isinstance(m, ast.FilterList)
            and m.operator == "MUST_PASS_ONE"
            and m.filters
            and all(type(x) is ast.SingleColumnValueFilter for x in m.filters)
        ):
            scvfs = list(m.filters)
        if is_cell_predicate(m):
            pred = compile_filter(m, reversed_scan=reversed_scan).pred
        elif scvfs:
            pred = None
            for x in scvfs:
                cap = None if x.latest_version_only else versions.get(x.family)
                version_index = version_index or (cap or 0) > 1
                v = _scvf_pred(x, cap)
                pred = v if pred is None else (pred | v)
        else:
            rest = members[i:]
            break
        if pred is not None:
            keep = pred if keep is None else (keep & pred)
    if len(rest) > 1:
        rest = [ast.FilterList("MUST_PASS_ALL", tuple(rest))]
    return Matcher(keep, rest[0] if rest else None, version_index)


def compile_filter(
    f: ast.Filter,
    allow_transform: bool = True,
    single_version: bool = False,
    reversed_scan: bool = False,
    clustered: bool = False,
) -> Compiled:  # noqa: C901
    """Compile a filter AST.

    ``allow_transform=False`` forces row-level filters (SCVF, SkipFilter)
    into their window-predicate form so they compose under OR / SKIP /
    WHILE; the default lets AND-composed row-level filters plan as
    semi/anti-joins (no full-width shuffle). ``single_version=True``
    declares that the input stream carries at most one version per column
    (a default scan's read view), letting version-sensitive filters skip
    their version-rank window. ``reversed_scan`` flips the scan order for
    the order-dependent filters (PageFilter takes the first rows in
    descending order; WhileMatchFilter truncates from the top of the range —
    Scan.setReversed:694 semantics). ``clustered``: the input is
    clustered by row, so row verdicts cost no exchange as windows over
    ``row``: SCVFs compile to their window-predicate form, and SkipFilter
    keeps its transform but judges rows with a window instead of an
    anti-join. A Table scan compiles here only what
    :func:`compile_matcher` leaves after the version quota; the SCVFs it
    judges before the quota see every live version within their family's
    limit, while an SCVF compiled here judges the cells of its input.

    MIXED MUST_PASS_ONE divergence (deliberate): under the reference's
    protocol, OR(SCVF, any cell-level filter) keeps EVERY ROW — the
    cell-level member's filterRow() is always false, and FilterList's
    MPO filterRow (FilterList.java:341-355) keeps the row as soon as
    ANY member keeps it. At the CELL level an SCVF with
    latestVersionOnly=false (or one whose column hasn't failed yet)
    returns INCLUDE for every cell, so those cells pass regardless of
    the sibling; a latestVersionOnly member whose latest tested version
    FAILS returns NEXT_ROW for subsequent cells
    (SingleColumnValueFilter.java:176-178), so cells after that point
    pass only via the sibling's verdict — i.e. the reference output
    degenerates to "all rows, nearly all cells", not a useful contract.
    This engine implements the intuitive composition instead (cell kept
    iff row-verdict OR cell-predicate)."""
    # SCVF verdicts as a fused aggregation + join (the transform form), or
    # as window predicates over the row-clustered input
    scvf_join = allow_transform and not clustered
    if isinstance(f, ast.FilterList):
        if f.operator == "MUST_PASS_ALL":
            children = list(f.filters)
            transforms: list[Callable[[DataFrame], DataFrame]] = []
            if scvf_join:
                # fuse sibling SCVFs into one aggregation+join
                scvfs = [
                    c for c in children if isinstance(c, ast.SingleColumnValueFilter)
                ]
                if scvfs:
                    children = [c for c in children if c not in scvfs]
                    transforms.append(_scvf_multi_transform(scvfs, single_version))
            parts = [
                compile_filter(
                    x, allow_transform, single_version, reversed_scan, clustered
                )
                for x in children
            ]
            preds = [p.pred for p in parts if p.pred is not None]
            pred = None
            for p in preds:
                pred = p if pred is None else (pred & p)
            transforms += [t for p in parts for t in p.transforms]
            return Compiled(pred, transforms)
        if f.operator == "MUST_PASS_ONE":
            # a PURE-SCVF list is a row-level OR in the reference (every
            # SCVF cell code is INCLUDE, the verdict lands in filterRow —
            # SingleColumnValueFilter.java:193 / FilterList MPO filterRow)
            # -> same fused aggregation+join form as the AND fuse, with
            # OR'd verdicts. The exclude subclass keeps the predicate form (its cell
            # stripping composes differently under OR).
            if (
                scvf_join
                and f.filters
                and all(
                    type(c) is ast.SingleColumnValueFilter for c in f.filters
                )
            ):
                return Compiled(
                    None,
                    [
                        _scvf_multi_transform(
                            list(f.filters), single_version, combine="or"
                        )
                    ],
                )
            parts = [
                compile_filter(
                    x, allow_transform=False, reversed_scan=reversed_scan
                )
                for x in f.filters
            ]
            if any(p.transforms for p in parts):
                raise NotImplementedError(
                    "order-dependent filters (Page/WhileMatch/KeyOnly...) are "
                    "not composable under MUST_PASS_ONE"
                )
            pred = None
            for p in parts:
                c = p.pred if p.pred is not None else F.lit(True)
                pred = c if pred is None else (pred | c)
            return Compiled(pred, [])
        raise ValueError(f"unknown FilterList operator: {f.operator}")

    if isinstance(f, ast.RowFilter):
        return Compiled(compile_compare(F.col("row"), f.op, f.comparator))
    if isinstance(f, ast.FamilyFilter):
        return Compiled(
            compile_compare(F.encode(F.col("family"), "UTF-8"), f.op, f.comparator)
        )
    if isinstance(f, ast.QualifierFilter):
        return Compiled(compile_compare(F.col("qualifier"), f.op, f.comparator))
    if isinstance(f, ast.ValueFilter):
        return Compiled(compile_compare(F.col("value"), f.op, f.comparator))
    # SingleColumnValueExcludeFilter subclasses SingleColumnValueFilter
    if isinstance(f, ast.SingleColumnValueFilter):
        if scvf_join:
            return Compiled(None, [_scvf_multi_transform([f], single_version)])
        return Compiled(_scvf_pred(f))
    if isinstance(f, ast.DependentColumnFilter):
        return Compiled(_dependent_pred(f))
    if isinstance(f, ast.PrefixFilter):
        succ = prefix_successor(f.prefix)
        return Compiled(_range_pred(f.prefix, True, succ, False))
    if isinstance(f, ast.ColumnPrefixFilter):
        succ = prefix_successor(f.prefix)
        return Compiled(
            _range_pred(f.prefix, True, succ, False, col=F.col("qualifier"))
        )
    if isinstance(f, ast.MultipleColumnPrefixFilter):
        pred = F.lit(False)
        for p in f.prefixes:
            succ = prefix_successor(p)
            pred = pred | _range_pred(p, True, succ, False, col=F.col("qualifier"))
        return Compiled(pred)
    if isinstance(f, ast.ColumnRangeFilter):
        return Compiled(
            _range_pred(
                f.min_column,
                f.min_inclusive,
                f.max_column,
                f.max_inclusive,
                col=F.col("qualifier"),
            )
        )
    if isinstance(f, ast.ColumnPaginationFilter):
        if f.column_offset is not None:
            return Compiled(
                None, [_column_offset_transform(f.limit, f.column_offset)]
            )
        idx = F.dense_rank().over(
            Window.partitionBy("row").orderBy("family", "qualifier")
        )
        pred = (idx > f.offset) & (idx <= f.offset + f.limit)
        # INCLUDE_AND_NEXT_COL (ColumnPaginationFilter.java:139-141)
        # takes only the NEWEST version of each in-window column; the
        # version-rank window is skipped when the stream is known
        # single-version (the default scan's read view)
        if not single_version:
            pred = pred & (_newest_version_rank() == 1)
        return Compiled(pred)
    if isinstance(f, ast.ColumnCountGetFilter):
        idx = F.dense_rank().over(
            Window.partitionBy("row").orderBy("family", "qualifier")
        )
        pred = idx <= f.limit
        # ColumnCountGetFilter.java:60-63 likewise emits
        # INCLUDE_AND_NEXT_COL — one (newest) version per counted column
        if not single_version:
            pred = pred & (_newest_version_rank() == 1)
        return Compiled(pred)
    if isinstance(f, ast.PageFilter):
        return Compiled(None, [_page_transform(f.page_size, reversed_scan)])
    if isinstance(f, ast.InclusiveStopFilter):
        # direction-sensitive (InclusiveStopFilter.java:80 — done =
        # reversed ? cmp > 0 : cmp < 0): on a reversed scan the stop row
        # is the LOW end and the scan includes it going down
        if reversed_scan:
            return Compiled(F.col("row") >= F.lit(f.stop_row))
        return Compiled(F.col("row") <= F.lit(f.stop_row))
    if isinstance(f, ast.TimestampsFilter):
        return Compiled(F.col("ts").isin(list(f.timestamps)))
    if isinstance(f, ast.KeyOnlyFilter):
        return Compiled(None, [_key_only_transform(f.len_as_val)])
    if isinstance(f, ast.FirstKeyOnlyFilter):
        return Compiled(F.row_number().over(_w_cell_order()) == 1)
    if isinstance(f, ast.FirstKeyValueMatchingQualifiersFilter):
        return Compiled(None, [_fkmq_transform(f.qualifiers)])
    if isinstance(f, ast.FuzzyRowFilter):
        pred = F.lit(False)
        for pattern, mask in f.pairs:
            if len(pattern) != len(mask):
                raise ValueError("fuzzy pattern and mask must have equal length")
            conj = F.length(F.col("row")) >= len(pattern)
            # contiguous fixed-byte runs -> substring equality (prunable when
            # the run is a key prefix; the FuzzyRowFilter seek-hint analog)
            i = 0
            while i < len(mask):
                if mask[i] == 0:
                    j = i
                    while j < len(mask) and mask[j] == 0:
                        j += 1
                    conj = conj & (
                        F.substring(F.col("row"), i + 1, j - i) == F.lit(pattern[i:j])
                    )
                    i = j
                else:
                    i += 1
            pred = pred | conj
        return Compiled(pred)
    if isinstance(f, ast.MultiRowRangeFilter):
        return Compiled(_multi_row_range_pred(f.ranges))
    if isinstance(f, ast.RandomRowFilter):
        u = F.pmod(F.xxhash64(F.col("row"), F.lit(f.seed)), F.lit(1_000_000)) / 1e6
        return Compiled(u < F.lit(float(f.chance)))
    if isinstance(f, ast.SkipFilter):
        if isinstance(f.wrapped, ast.SingleColumnValueFilter):
            # Skip consults ONLY the wrapped filter's filterKeyValue codes
            # (SkipFilter.java:79-83 — filterRow, where filterIfMissing
            # lives, is never called; FilterBase.filterRowCells is a no-op,
            # so even SingleColumnValueExcludeFilter excludes nothing under
            # Skip). SCVF.filterKeyValue (SingleColumnValueFilter.java:
            # 171-188) emits NEXT_ROW only when latestVersionOnly=true and
            # the found column's newest tested version fails; with
            # latestVersionOnly=false every code is INCLUDE. Hence:
            #   Skip(SCVF, lvo=false)       == identity (keep every row)
            #   Skip(SCVF, lvo=true, fim=*) == SCVF(lvo=true, fim=False)
            # — a missing column is KEPT regardless of filterIfMissing.
            w = f.wrapped
            if not w.latest_version_only:
                return Compiled(F.lit(True))
            return compile_filter(
                ast.SingleColumnValueFilter(
                    w.family, w.qualifier, w.op, w.comparator,
                    filter_if_missing=False, latest_version_only=True,
                ),
                single_version=single_version,
                allow_transform=allow_transform,
                reversed_scan=reversed_scan,
                clustered=clustered,
            )
        pred = _skip_code_pred(f.wrapped, reversed_scan)
        if allow_transform:
            return Compiled(None, [_skip_transform(pred, clustered)])
        all_pass = (
            F.min(F.when(pred, F.lit(1)).otherwise(F.lit(0))).over(_w_row()) == 1
        )
        return Compiled(all_pass)
    if isinstance(f, ast.WhileMatchFilter):
        if isinstance(f.wrapped, ast.PageFilter):
            # WhileMatch(PageFilter(n)) collapses to PageFilter(n): the page
            # filter accepts the first n rows then rejects, and WhileMatch
            # turns that first rejection into scan termination — the visible
            # result is exactly the page (TestFilter.java
            # testWhileMatchFilterWithFilterRow / ...WithReverseScan pin
            # scannerCounter == pageSize).
            return Compiled(
                None, [_page_transform(f.wrapped.page_size, reversed_scan)]
            )
        # WhileMatchFilter forwards filterRowKey / filterKeyValue /
        # filterRow (WhileMatchFilter.java:88-120) but NOT filterRowCells
        # (inherited FilterBase no-op), so a SingleColumnValueExclude
        # wrapped under WhileMatch strips NOTHING — it behaves as the
        # plain SCVF (same non-forwarding lesson as Skip, r12/r13).
        wrapped = _strip_exclude(f.wrapped)
        range_pred = _while_match_range_rewrite(wrapped, reversed_scan)
        if range_pred is not None:
            return Compiled(range_pred)
        return Compiled(None, [_while_match_transform(wrapped, reversed_scan)])
    raise NotImplementedError(f"filter: {type(f).__name__}")


def _strip_exclude(g: ast.Filter) -> ast.Filter:
    """Replace SingleColumnValueExcludeFilter with its plain SCVF base
    throughout a tree — for wrapper filters that never forward
    filterRowCells (WhileMatchFilter), where the exclude aspect is
    unreachable."""
    if isinstance(g, ast.FilterList):
        return ast.FilterList(
            g.operator, tuple(_strip_exclude(x) for x in g.filters)
        )
    if isinstance(g, ast.SkipFilter):
        return ast.SkipFilter(_strip_exclude(g.wrapped))
    if isinstance(g, ast.WhileMatchFilter):
        return ast.WhileMatchFilter(_strip_exclude(g.wrapped))
    if type(g) is ast.SingleColumnValueExcludeFilter:
        return ast.SingleColumnValueFilter(
            g.family, g.qualifier, g.op, g.comparator,
            filter_if_missing=g.filter_if_missing,
            latest_version_only=g.latest_version_only,
        )
    return g


def apply_filter(
    df: DataFrame,
    f: ast.Filter | None,
    single_version: bool = False,
    reversed_scan: bool = False,
    clustered: bool = False,
) -> DataFrame:
    """Apply a compiled filter to a cell DataFrame.

    Predicates containing window expressions cannot sit in a WHERE clause, so
    the predicate is materialized via withColumn first; Catalyst still pushes
    the window-free conjuncts below the window/exchange. ``clustered``: ``df``
    is clustered by row (hash-partitioned on it, or one partition), so row
    verdicts compile to windows over ``row``
    (``compile_filter(clustered=True)``). Unclustered input joins its
    verdicts back: the staged SCVF join, Skip's anti-join.
    """
    if f is None:
        return df
    c = compile_filter(
        f, single_version=single_version, reversed_scan=reversed_scan,
        clustered=clustered,
    )
    out = df
    if c.pred is not None:
        out = (
            out.withColumn("_keep", c.pred).where(F.col("_keep")).drop("_keep")
        )
    for t in c.transforms:
        # SCVF verdict transforms judge the PRE-predicate frame (the
        # matcher-visible stream) while their semi/anti join still
        # applies to the filtered output — canonical member order puts
        # SCVFs before every sibling cell predicate.
        if getattr(t, "_scvf_verdict", False):
            out = t(out, df)
        else:
            out = t(out)
    return out
