"""Randomized differential test of the filter engine against a pure-Python
REFERENCE PROTOCOL WALKER.

The walker below is an independent reimplementation of the reference's
scan/filter protocol — the HRegion row loop (HRegion.java:6008-6150
nextInternal: filterRowKey -> per-cell filterKeyValue codes -> joined
results -> FilterWrapper.filterRowCellsWithRet -> filterRow), the
per-store cell walk with ReturnCode handling (ScanQueryMatcher.java:283
checks filterAllRemaining before EVERY cell; SKIP / NEXT_COL / NEXT_ROW /
SEEK_NEXT_USING_HINT scopes), and each filter's hook methods transcribed
from its Java class (file:line cited per class). It is deliberately
written in the reference's *shape* (stateful per-row walk) — the opposite
architecture from the engine's declarative compile — so agreement is
evidence of semantic fidelity, not shared structure.

r11's manual TestFilter pinning found six real divergences; this module
hunts the compositional tail the hand-written pins cannot reach: random
nested FilterLists over the stateful surface (SCVF fim/lvo, SkipFilter,
WhileMatchFilter, PageFilter, ColumnPagination, column/row filters).
Its first catch (r13): WhileMatch(cell-filter) failing MID-ROW must emit
the passing KV-prefix of the failing row — the store scanner keeps the
partial result list on DONE_SCAN (StoreScanner.java:608-610) and
FilterWrapper emits a non-empty partial through filterRow(); the engine
previously dropped the whole failing row (TestFilter's fixture is
row-uniform, so the method-for-method pins never exercised it). The
deterministic pins at the bottom fence that case forward/reversed/
multi-family.

Generation is scoped to shapes where the engine CONTRACTS reference
equality. Excluded (documented divergences / order-dependent member
state):
  * SCVF inside a MIXED MUST_PASS_ONE (compiler.py docstring — the
    reference's own protocol degenerates; engine implements the
    intuitive composition, driver-value-checked by filter_mixed_or).
  * MUST_PASS_ALL lists are generated in CANONICAL MEMBER ORDER
    [SCVF*, column-stateful?, stateless*, Page?] (see and_list_st):
    the reference evaluates ALL lists lazily in member order
    (FilterList.java:45-46, :260-276), so stateful members placed after
    a rejecting member are starved of cells (FirstKeyOnly before an
    SCVF eats the tested column; a page member before a row-vetoing
    member consumes quota for rejected rows via the filterRow
    short-circuit, FilterList.java:341-349). The engine's declarative
    composition is order-independent and equals the reference under the
    canonical order — the engine's contracted semantics.
  * ColumnCountGetFilter under Scan (a Get-shaped filter: its
    filterAllRemaining terminates the whole scan mid-row — engine
    documents the per-row interpretation).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from tests._prop_budget import ex

from hbase_1_3_0_spark.catalog import FamilyMeta, TableMeta
from hbase_1_3_0_spark.cells import CELL_SCHEMA, TYPE_PUT
from hbase_1_3_0_spark.filters import ast
from hbase_1_3_0_spark.table import Table

# ---------------------------------------------------------------------------
# ReturnCode (Filter.java:93-118)
# ---------------------------------------------------------------------------

INCLUDE = "INCLUDE"
INCLUDE_AND_NEXT_COL = "INCLUDE_AND_NEXT_COL"
SKIP = "SKIP"
NEXT_COL = "NEXT_COL"
NEXT_ROW = "NEXT_ROW"
SEEK_NEXT_USING_HINT = "SEEK_NEXT_USING_HINT"

_INCLUDING = (INCLUDE, INCLUDE_AND_NEXT_COL)


# ---------------------------------------------------------------------------
# comparators (ByteArrayComparable subclasses) + CompareFilter.doCompare
# ---------------------------------------------------------------------------


def _bytes_cmp(a: bytes, b: bytes) -> int:
    """Bytes.compareTo: unsigned lexicographic, length tiebreak."""
    if a == b:
        return 0
    return -1 if a < b else 1


def _comparator_compare(cmp, data: bytes) -> int:
    """comparator.compareTo(cellBytes) — note operand order: the
    COMPARATOR's value is the left operand."""
    if isinstance(cmp, ast.BinaryComparator):
        return _bytes_cmp(cmp.value, data)
    if isinstance(cmp, ast.BinaryPrefixComparator):
        # BinaryPrefixComparator.java:47-50: compare this.value against
        # the first min(len(value), len(data)) bytes of data
        n = min(len(cmp.value), len(data))
        return _bytes_cmp(cmp.value, data[:n])
    if isinstance(cmp, ast.SubstringComparator):
        # SubstringComparator.java:65-67
        return 0 if cmp.substr.lower() in data.decode("utf-8", "replace").lower() else 1
    if isinstance(cmp, ast.NullComparator):
        # NullComparator.java:42-44 (cell bytes are never null here)
        return 1
    raise AssertionError(cmp)


def do_compare(op: str, cmp, data: bytes) -> bool:
    """CompareFilter.doCompare (CompareFilter.java:100-123): True means
    FILTER OUT."""
    if op == "NO_OP":
        return True
    r = _comparator_compare(cmp, data)
    return {
        "LESS": r <= 0,
        "LESS_OR_EQUAL": r < 0,
        "EQUAL": r != 0,
        "NOT_EQUAL": r == 0,
        "GREATER_OR_EQUAL": r > 0,
        "GREATER": r >= 0,
    }[op]


# ---------------------------------------------------------------------------
# reference filter classes (one per Java class; hooks transcribed)
# Cell = (row: bytes, family: str, qualifier: bytes, ts: int, value: bytes)
# ---------------------------------------------------------------------------


class RefFilter:
    reversed_scan = False

    def reset(self):  # FilterBase.reset
        pass

    def filter_all_remaining(self) -> bool:
        return False

    def filter_row_key(self, row: bytes) -> bool:
        return False

    def filter_cell(self, cell):  # -> (code, hint_qualifier|None)
        return INCLUDE, None

    def filter_row_cells(self, cells: list) -> None:  # FilterBase: no-op
        pass

    def has_filter_row(self) -> bool:
        return False

    def filter_row(self) -> bool:
        return False


class RefRowFilter(RefFilter):
    """RowFilter.java:60-90."""

    def __init__(self, op, cmp):
        self.op, self.cmp = op, cmp
        self.filter_out_row = False

    def reset(self):
        self.filter_out_row = False

    def filter_row_key(self, row):
        if do_compare(self.op, self.cmp, row):
            self.filter_out_row = True
        return self.filter_out_row

    def filter_cell(self, cell):
        return (NEXT_ROW if self.filter_out_row else INCLUDE), None

    def filter_row(self):
        return self.filter_out_row


class RefFamilyFilter(RefFilter):
    """FamilyFilter.java:57-70 — failing family -> NEXT_ROW (per store)."""

    def __init__(self, op, cmp):
        self.op, self.cmp = op, cmp

    def filter_cell(self, cell):
        fam = cell[1].encode()
        if fam and do_compare(self.op, self.cmp, fam):
            return NEXT_ROW, None
        return INCLUDE, None


class RefQualifierFilter(RefFilter):
    """QualifierFilter.java:56-66 — failing qualifier -> SKIP."""

    def __init__(self, op, cmp):
        self.op, self.cmp = op, cmp

    def filter_cell(self, cell):
        q = cell[2]
        if len(q) > 0 and do_compare(self.op, self.cmp, q):
            return SKIP, None
        return INCLUDE, None


class RefValueFilter(RefFilter):
    """ValueFilter.java:56-62."""

    def __init__(self, op, cmp):
        self.op, self.cmp = op, cmp

    def filter_cell(self, cell):
        if do_compare(self.op, self.cmp, cell[4]):
            return SKIP, None
        return INCLUDE, None


class RefPrefixFilter(RefFilter):
    """PrefixFilter.java:49-87 (passedPrefix persists across rows)."""

    def __init__(self, prefix: bytes, reversed_scan: bool = False):
        self.prefix = prefix
        self.reversed_scan = reversed_scan
        self.passed_prefix = False
        self.filter_out = True

    def reset(self):
        self.filter_out = True

    def filter_row_key(self, row):
        if len(row) < len(self.prefix):
            return True
        cmp = _bytes_cmp(row[: len(self.prefix)], self.prefix)
        if (not self.reversed_scan and cmp > 0) or (self.reversed_scan and cmp < 0):
            self.passed_prefix = True
        self.filter_out = cmp != 0
        return self.filter_out

    def filter_cell(self, cell):
        return (NEXT_ROW if self.filter_out else INCLUDE), None

    def filter_row(self):
        return self.filter_out

    def filter_all_remaining(self):
        return self.passed_prefix


class RefInclusiveStopFilter(RefFilter):
    """InclusiveStopFilter.java:47-80 (done persists)."""

    def __init__(self, stop: bytes, reversed_scan: bool = False):
        self.stop = stop
        self.reversed_scan = reversed_scan
        self.done = False

    def filter_row_key(self, row):
        cmp = _bytes_cmp(self.stop, row)
        self.done = cmp > 0 if self.reversed_scan else cmp < 0
        return self.done

    def filter_cell(self, cell):
        return (NEXT_ROW if self.done else INCLUDE), None

    def filter_all_remaining(self):
        return self.done


class RefColumnPrefixFilter(RefFilter):
    """ColumnPrefixFilter.java:56-90 (filterColumn code table)."""

    def __init__(self, prefix: bytes):
        self.prefix = prefix

    def filter_cell(self, cell):
        q = cell[2]
        if len(q) < len(self.prefix):
            cmp = _bytes_cmp(q, self.prefix[: len(q)])
            return (SEEK_NEXT_USING_HINT, self.prefix) if cmp <= 0 else (NEXT_ROW, None)
        cmp = _bytes_cmp(q[: len(self.prefix)], self.prefix)
        if cmp < 0:
            return SEEK_NEXT_USING_HINT, self.prefix
        if cmp > 0:
            return NEXT_ROW, None
        return INCLUDE, None


class RefMultipleColumnPrefixFilter(RefFilter):
    """MultipleColumnPrefixFilter.java:81-103."""

    def __init__(self, prefixes):
        self.sorted_prefixes = sorted(prefixes)

    def filter_cell(self, cell):
        q = cell[2]
        le = [p for p in self.sorted_prefixes if p <= q]
        if le:
            largest = le[-1]
            if q.startswith(largest):
                return INCLUDE, None
            if len(le) == len(self.sorted_prefixes):
                return NEXT_ROW, None
            higher = [p for p in self.sorted_prefixes if p > largest][0]
            return SEEK_NEXT_USING_HINT, higher
        return SEEK_NEXT_USING_HINT, self.sorted_prefixes[0]


class RefColumnRangeFilter(RefFilter):
    """ColumnRangeFilter.java filterKeyValue (cmpMin/cmpMax table)."""

    def __init__(self, min_col, min_inc, max_col, max_inc):
        self.min_col, self.min_inc = min_col, min_inc
        self.max_col, self.max_inc = max_col, max_inc

    def filter_cell(self, cell):
        q = cell[2]
        if self.min_col is not None:
            cmp_min = _bytes_cmp(q, self.min_col)
            if cmp_min < 0:
                return SEEK_NEXT_USING_HINT, self.min_col
            if not self.min_inc and cmp_min == 0:
                return NEXT_COL, None
        if self.max_col is None:
            return INCLUDE, None
        cmp_max = _bytes_cmp(q, self.max_col)
        if (self.max_inc and cmp_max <= 0) or (not self.max_inc and cmp_max < 0):
            return INCLUDE, None
        return NEXT_ROW, None


class RefColumnPaginationFilter(RefFilter):
    """ColumnPaginationFilter.java filterKeyValue (count per row)."""

    def __init__(self, limit: int, offset: int):
        self.limit, self.offset = limit, offset
        self.count = 0

    def reset(self):
        self.count = 0

    def filter_cell(self, cell):
        if self.count >= self.offset + self.limit:
            return NEXT_ROW, None
        code = NEXT_COL if self.count < self.offset else INCLUDE_AND_NEXT_COL
        self.count += 1
        return code, None


class RefTimestampsFilter(RefFilter):
    """TimestampsFilter.java:107-116: INCLUDE iff ts in the set; below
    the minimum requested ts -> NEXT_COL (versions descend); else SKIP
    (canHint=false default)."""

    def __init__(self, timestamps):
        self.ts = set(timestamps)
        self.min_ts = min(timestamps) if timestamps else 0

    def filter_cell(self, cell):
        if cell[3] in self.ts:
            return INCLUDE, None
        if cell[3] < self.min_ts:
            return NEXT_COL, None
        return SKIP, None


class RefFirstKeyOnlyFilter(RefFilter):
    """FirstKeyOnlyFilter.java:49-60."""

    def __init__(self):
        self.found = False

    def reset(self):
        self.found = False

    def filter_cell(self, cell):
        if self.found:
            return NEXT_ROW, None
        self.found = True
        return INCLUDE, None


class RefPageFilter(RefFilter):
    """PageFilter.java:57-78 (rowsAccepted persists; counted in
    filterRow, which FilterWrapper calls only for non-empty rows)."""

    def __init__(self, page_size: int):
        self.page_size = page_size
        self.rows_accepted = 0

    def filter_all_remaining(self):
        return self.rows_accepted >= self.page_size

    def has_filter_row(self):
        return True

    def filter_row(self):
        self.rows_accepted += 1
        return self.rows_accepted > self.page_size


class RefSCVF(RefFilter):
    """SingleColumnValueFilter.java:171-200."""

    def __init__(self, family, qualifier, op, cmp, fim, lvo):
        self.family, self.qualifier = family, qualifier
        self.op, self.cmp = op, cmp
        self.fim, self.lvo = fim, lvo
        self.found_column = False
        self.matched_column = False

    def reset(self):
        self.found_column = False
        self.matched_column = False

    def _matches(self, value: bytes) -> bool:
        # filterColumnValue returns True to REJECT (doCompare semantics)
        return not do_compare(self.op, self.cmp, value)

    def filter_cell(self, cell):
        if self.matched_column:
            return INCLUDE, None
        if self.lvo and self.found_column:
            return NEXT_ROW, None
        if not (cell[1] == self.family and cell[2] == self.qualifier):
            return INCLUDE, None
        self.found_column = True
        if not self._matches(cell[4]):
            return (NEXT_ROW if self.lvo else INCLUDE), None
        self.matched_column = True
        return INCLUDE, None

    def has_filter_row(self):
        return True

    def filter_row(self):
        return (not self.matched_column) if self.found_column else self.fim


class RefSCVEF(RefSCVF):
    """SingleColumnValueExcludeFilter.java:74-86."""

    def filter_row_cells(self, cells):
        cells[:] = [
            c
            for c in cells
            if not (c[1] == self.family and c[2] == self.qualifier)
        ]


class RefSkipFilter(RefFilter):
    """SkipFilter.java:60-96 (consults only filterKeyValue codes;
    filterRowCells NOT forwarded — FilterBase no-op)."""

    def __init__(self, inner: RefFilter):
        self.inner = inner
        self.filter_row_flag = False

    def reset(self):
        self.inner.reset()
        self.filter_row_flag = False

    def filter_row_key(self, row):
        # SkipFilter.filterRowKey: FilterBase default (false) — the
        # wrapped filter's filterRowKey is never consulted
        return False

    def filter_cell(self, cell):
        code, hint = self.inner.filter_cell(cell)
        if code != INCLUDE:
            self.filter_row_flag = True
        return code, hint

    def has_filter_row(self):
        return True

    def filter_row(self):
        return self.filter_row_flag


class RefWhileMatchFilter(RefFilter):
    """WhileMatchFilter.java:52-120 (changeFAR on any non-INCLUDE)."""

    def __init__(self, inner: RefFilter):
        self.inner = inner
        self.far = False

    def reset(self):
        self.inner.reset()

    def filter_all_remaining(self):
        return self.far or self.inner.filter_all_remaining()

    def filter_row_key(self, row):
        v = self.inner.filter_row_key(row)
        self.far = self.far or v
        return v

    def filter_cell(self, cell):
        code, hint = self.inner.filter_cell(cell)
        self.far = self.far or code != INCLUDE
        return code, hint

    def has_filter_row(self):
        return True

    def filter_row(self):
        v = self.inner.filter_row()
        self.far = self.far or v
        return v


class RefFilterList(RefFilter):
    """FilterList.java:180-356."""

    def __init__(self, operator: str, members):
        self.op_all = operator == "MUST_PASS_ALL"
        self.members = list(members)

    def reset(self):
        for m in self.members:
            m.reset()

    def filter_row_key(self, row):
        # FilterList.java:180-198 — every member is consulted (state!)
        flag = not self.op_all
        for m in self.members:
            if self.op_all:
                if m.filter_all_remaining() or m.filter_row_key(row):
                    flag = True
            else:
                if not m.filter_all_remaining() and not m.filter_row_key(row):
                    flag = False
        return flag

    def filter_all_remaining(self):
        # FilterList.java:201-215
        for m in self.members:
            if m.filter_all_remaining():
                if self.op_all:
                    return True
            else:
                if not self.op_all:
                    return False
        return not self.op_all

    def filter_cell(self, cell):
        # FilterList.java:249-310
        if self.op_all:
            for m in self.members:
                if m.filter_all_remaining():
                    return NEXT_ROW, None
                code, hint = m.filter_cell(cell)
                if code in _INCLUDING:
                    # INCLUDE_AND_NEXT_COL overrides INCLUDE and keeps
                    # evaluating (fallthrough in the Java switch)
                    if code == INCLUDE_AND_NEXT_COL:
                        # remember strongest include; Java tracks rc
                        pass
                    continue
                return code, hint
            return INCLUDE, None
        rc = SKIP
        for m in self.members:
            if m.filter_all_remaining():
                continue
            code, _hint = m.filter_cell(cell)
            if code == INCLUDE:
                if rc != INCLUDE_AND_NEXT_COL:
                    rc = INCLUDE
            elif code == INCLUDE_AND_NEXT_COL:
                rc = INCLUDE_AND_NEXT_COL
            # NEXT_ROW / SKIP / NEXT_COL / SEEK: non-include votes
        return rc, None

    def filter_row_cells(self, cells):
        for m in self.members:
            m.filter_row_cells(cells)

    def has_filter_row(self):
        return any(m.has_filter_row() for m in self.members)

    def filter_row(self):
        # FilterList.java:341-355 — short-circuits in member order
        for m in self.members:
            if self.op_all:
                if m.filter_row():
                    return True
            else:
                if not m.filter_row():
                    return False
        return not self.op_all


# NOTE on the MUST_PASS_ALL INCLUDE_AND_NEXT_COL nuance: the Java list
# upgrades rc to INCLUDE_AND_NEXT_COL but later members can still return
# SKIP etc. For the shapes generated here (column-stateful members only
# FIRST in ALL lists), the upgraded code's NEXT_COL effect is only
# observable with multiple versions per column — the fixture is
# single-version, so plain INCLUDE is an equivalent return for ALL lists.


# ---------------------------------------------------------------------------
# the region scan walker (HRegion.java:6008-6150 + SQM + StoreScanner)
# ---------------------------------------------------------------------------


def ref_scan(
    cells, flt: RefFilter, reversed_scan: bool = False, max_versions: int = 1
):
    """cells: iterable of (row, family, qualifier, ts, value) — the
    live (delete-masked, pre-version-count) state. Returns the emitted
    cells.

    Version counting follows ScanQueryMatcher.match order: the filter's
    filterKeyValue runs FIRST, and only an INCLUDE consumes a version
    slot (columns.checkVersions follows the filter response — a newer
    version the filter rejects is SKIPped, not counted, so an older
    version can fill the quota)."""
    by_row: dict[bytes, list] = {}
    for c in cells:
        by_row.setdefault(c[0], []).append(c)
    rows = sorted(by_row, reverse=reversed_scan)
    out = []
    for row in rows:
        flt.reset()  # HRegion.java:5881 resetFilters per row
        if flt.filter_all_remaining():  # SQM.java:283 -> DONE_SCAN
            break
        if flt.filter_row_key(row):  # HRegion.java:6078
            if flt.filter_all_remaining():  # HBASE-16296 early check
                break
            continue
        results = []
        done_scan = False
        # one store per family; heap pull order == (family, qualifier)
        # asc within the row, so a family-by-family walk IS the global
        # KV order; NEXT_ROW / seek scopes are per store
        fams = sorted({c[1] for c in by_row[row]})
        for fam in fams:
            if done_scan:
                break
            store = sorted(
                (c for c in by_row[row] if c[1] == fam),
                key=lambda c: (c[2], -c[3]),
            )
            skip_col = None
            seek_to = None
            row_done = False
            included_versions: dict[bytes, int] = {}
            for cell in store:
                if row_done:
                    break
                if flt.filter_all_remaining():  # SQM.java:283 per cell
                    done_scan = True
                    break
                if seek_to is not None:
                    if cell[2] < seek_to:
                        continue  # physically skipped by the seek
                    seek_to = None
                if skip_col is not None and cell[2] == skip_col:
                    continue
                code, hint = flt.filter_cell(cell)
                if code == INCLUDE:
                    # checkVersions runs AFTER the filter (SQM STEP 4):
                    # the INCLUDE that FILLS the quota returns
                    # INCLUDE_AND_SEEK_NEXT_COL, so deeper versions of
                    # the column are never shown to the filter; a
                    # filter-SKIPped version consumes no quota and the
                    # filter keeps seeing deeper versions
                    n = included_versions.get(cell[2], 0) + 1
                    included_versions[cell[2]] = n
                    results.append(cell)
                    if n >= max_versions:
                        skip_col = cell[2]
                elif code == INCLUDE_AND_NEXT_COL:
                    results.append(cell)
                    skip_col = cell[2]
                elif code == SKIP:
                    pass
                elif code == NEXT_COL:
                    skip_col = cell[2]
                elif code == NEXT_ROW:
                    row_done = True
                elif code == SEEK_NEXT_USING_HINT:
                    seek_to = hint if hint is not None else None
                else:
                    raise AssertionError(code)
        # row-level hooks (HRegion.java:6112-6140 + FilterWrapper:157-172)
        is_empty = not results
        excluded = False
        if flt.has_filter_row():
            flt.filter_row_cells(results)
            if results:
                if flt.filter_row():
                    results = []
                    excluded = True
        else:
            excluded = flt.filter_row()  # HRegion.java:6245-2650 shim
        if not (is_empty or excluded):
            out.extend(results)
        if done_scan:
            break
    return out


# ---------------------------------------------------------------------------
# AST -> Ref builder
# ---------------------------------------------------------------------------


def build_ref(f: ast.Filter, reversed_scan: bool = False) -> RefFilter:
    if isinstance(f, ast.FilterList):
        return RefFilterList(
            f.operator, [build_ref(x, reversed_scan) for x in f.filters]
        )
    if isinstance(f, ast.SkipFilter):
        return RefSkipFilter(build_ref(f.wrapped, reversed_scan))
    if isinstance(f, ast.WhileMatchFilter):
        return RefWhileMatchFilter(build_ref(f.wrapped, reversed_scan))
    if isinstance(f, ast.SingleColumnValueExcludeFilter):
        return RefSCVEF(
            f.family, f.qualifier, f.op, f.comparator,
            f.filter_if_missing, f.latest_version_only,
        )
    if isinstance(f, ast.SingleColumnValueFilter):
        return RefSCVF(
            f.family, f.qualifier, f.op, f.comparator,
            f.filter_if_missing, f.latest_version_only,
        )
    if isinstance(f, ast.RowFilter):
        return RefRowFilter(f.op, f.comparator)
    if isinstance(f, ast.FamilyFilter):
        return RefFamilyFilter(f.op, f.comparator)
    if isinstance(f, ast.QualifierFilter):
        return RefQualifierFilter(f.op, f.comparator)
    if isinstance(f, ast.ValueFilter):
        return RefValueFilter(f.op, f.comparator)
    if isinstance(f, ast.PrefixFilter):
        return RefPrefixFilter(f.prefix, reversed_scan)
    if isinstance(f, ast.InclusiveStopFilter):
        return RefInclusiveStopFilter(f.stop_row, reversed_scan)
    if isinstance(f, ast.ColumnPrefixFilter):
        return RefColumnPrefixFilter(f.prefix)
    if isinstance(f, ast.MultipleColumnPrefixFilter):
        return RefMultipleColumnPrefixFilter(f.prefixes)
    if isinstance(f, ast.ColumnRangeFilter):
        return RefColumnRangeFilter(
            f.min_column, f.min_inclusive, f.max_column, f.max_inclusive
        )
    if isinstance(f, ast.ColumnPaginationFilter):
        return RefColumnPaginationFilter(f.limit, f.offset)
    if isinstance(f, ast.FirstKeyOnlyFilter):
        return RefFirstKeyOnlyFilter()
    if isinstance(f, ast.PageFilter):
        return RefPageFilter(f.page_size)
    if isinstance(f, ast.TimestampsFilter):
        return RefTimestampsFilter(f.timestamps)
    raise AssertionError(type(f))


# ---------------------------------------------------------------------------
# fixture + comparison harness
# ---------------------------------------------------------------------------

_ROWS = [b"a", b"ab", b"b", b"ca", b"cb", b"d"]
_FAMS = ["fa", "fb"]
_QUALS = [b"qa", b"qb", b"qc"]
_VALS = [b"v1", b"v2", b"V1x", b"w", b""]


def _make_cells(value_at):
    """One put per (row, family, qualifier) at ts=1000; value chosen by
    the drawn index grid."""
    cells = []
    seq = 0
    for r in _ROWS:
        for fam in _FAMS:
            for q in _QUALS:
                seq += 1
                cells.append((r, fam, q, 1000, TYPE_PUT, value_at(r, fam, q), seq))
    return cells


def _run_both(spark, cells, f, reversed_scan=False):
    t = Table(
        TableMeta(name="proto", families=tuple(FamilyMeta(name=x) for x in _FAMS)),
        spark.createDataFrame(cells, CELL_SCHEMA),
        now_ms=10_000,
    )
    got = sorted(
        (bytes(r["row"]), r["family"], bytes(r["qualifier"]),
         None if r["value"] is None else bytes(r["value"]))
        for r in t.scan(filter=f, reversed=reversed_scan).collect()
    )
    visible = [(r, fam, q, ts, v) for (r, fam, q, ts, _tp, v, _s) in cells]
    expected = sorted(
        (r, fam, q, v)
        for (r, fam, q, _ts, v) in ref_scan(
            visible, build_ref(f, reversed_scan), reversed_scan
        )
    )
    assert got == expected, f"\nfilter={f}\nengine  ={got}\nreference={expected}"


# ---------------------------------------------------------------------------
# strategies
# ---------------------------------------------------------------------------

_OPS = ["LESS", "LESS_OR_EQUAL", "EQUAL", "NOT_EQUAL",
        "GREATER_OR_EQUAL", "GREATER"]

comparator_st = st.one_of(
    st.sampled_from(_VALS + [b"v"]).map(ast.BinaryComparator),
    st.sampled_from([b"v", b"V", b"w"]).map(ast.BinaryPrefixComparator),
    st.sampled_from(["v1", "1x", "z"]).map(ast.SubstringComparator),
)

# non-truncating cell leaves: QualifierFilter/ValueFilter emit only
# SKIP on failure; RowFilter is row-level (filterRowKey). FamilyFilter
# is kept SEPARATE: its failing code is NEXT_ROW (per store), which
# truncates the store's row walk — fine among stateless members, unsafe
# next to SCVF / column-stateful state (see and_list_st).
nontruncating_cell_leaf_st = st.one_of(
    st.builds(
        lambda op, c: ast.QualifierFilter(op=op, comparator=c),
        st.sampled_from(_OPS),
        st.one_of(
            st.sampled_from(_QUALS + [b"q", b"qbb"]).map(ast.BinaryComparator),
            st.sampled_from([b"q", b"qb"]).map(ast.BinaryPrefixComparator),
        ),
    ),
    st.builds(
        lambda op, c: ast.ValueFilter(op=op, comparator=c),
        st.sampled_from(_OPS),
        comparator_st,
    ),
    st.builds(
        lambda op, c: ast.RowFilter(op=op, comparator=c),
        st.sampled_from(_OPS),
        st.sampled_from(_ROWS + [b"c"]).map(ast.BinaryComparator),
    ),
)

family_leaf_st = st.builds(
    lambda op, c: ast.FamilyFilter(op=op, comparator=c),
    st.sampled_from(_OPS),
    st.sampled_from([b"fa", b"fb", b"f"]).map(ast.BinaryComparator),
)

cell_leaf_st = st.one_of(nontruncating_cell_leaf_st, family_leaf_st)

col_leaf_st = st.one_of(
    st.sampled_from([b"q", b"qa", b"qb", b"x"]).map(ast.ColumnPrefixFilter),
    st.builds(
        lambda ps: ast.MultipleColumnPrefixFilter(tuple(sorted(set(ps)))),
        st.lists(st.sampled_from([b"qa", b"qb", b"qc", b"x"]), min_size=1, max_size=3),
    ),
    st.builds(
        ast.ColumnRangeFilter,
        st.sampled_from([b"qa", b"qb", None]),
        st.booleans(),
        st.sampled_from([b"qb", b"qc", None]),
        st.booleans(),
    ),
)

row_leaf_st = st.one_of(
    st.sampled_from([b"a", b"c", b"ca", b"x"]).map(ast.PrefixFilter),
    st.builds(
        lambda s: ast.InclusiveStopFilter(stop_row=s),
        st.sampled_from(_ROWS + [b"bb"]),
    ),
)

scvf_st = st.builds(
    lambda fam, q, op, c, fim, lvo, excl: (
        ast.SingleColumnValueExcludeFilter if excl
        else ast.SingleColumnValueFilter
    )(fam, q, op, c, filter_if_missing=fim, latest_version_only=lvo),
    st.sampled_from(_FAMS),
    st.sampled_from(_QUALS),
    st.sampled_from(_OPS),
    comparator_st,
    st.booleans(),
    st.booleans(),
    st.booleans(),
)

stateless_leaf_st = st.one_of(cell_leaf_st, col_leaf_st, row_leaf_st)

# column-stateful leaves: only top-level or FIRST member of an ALL list
col_state_leaf_st = st.one_of(
    st.builds(
        ast.ColumnPaginationFilter,
        st.integers(min_value=1, max_value=5),
        st.integers(min_value=0, max_value=4),
    ),
    st.just(ast.FirstKeyOnlyFilter()),
)

# MUST_PASS_ALL generation, three scoped flavors. The reference
# evaluates ALL lists lazily in member order (FilterList.java:45-46,
# :260-276 returns at the first non-INCLUDE code) and a NEXT_ROW code
# TRUNCATES the row walk for every member, so stateful members compose
# order- and truncation-dependently:
#   * an SCVF's row verdict needs its tested column REACHED — a sibling
#     that truncates the row walk before it (FirstKeyOnly's NEXT_ROW,
#     ColumnPagination past its limit, a column filter past its range,
#     FamilyFilter's per-store NEXT_ROW) leaves foundColumn false and
#     filter_if_missing decides, where the engine's fused verdict judges
#     the full row (the same protocol-artifact family as the documented
#     mixed-OR divergence; engine semantics are the deliberate,
#     order-independent composition);
#   * column-stateful counters (ColumnPagination/FirstKeyOnly) must be
#     FIRST so a lazy sibling's SKIP doesn't starve their count, and
#     their siblings must emit only INCLUDE/SKIP or row-level codes so
#     the counted stream equals the raw column stream.
# Stateless members (Value/Qualifier/Row/Prefix/InclusiveStop and the
# column filters among themselves) compose as pure set algebra — a
# truncating code only fires when every later cell of that store would
# fail the same predicate, so truncation == per-cell conjunction.
# PageFilter goes LAST (filterRow short-circuits in member order,
# FilterList.java:341-349 — earlier row-vetoed rows must not consume
# page quota).
_NONTRUNCATING = st.one_of(nontruncating_cell_leaf_st, row_leaf_st)

_scvf_and_st = st.builds(
    lambda scvfs, members, page: ast.FilterList(
        "MUST_PASS_ALL",
        tuple(scvfs + members + ([ast.PageFilter(page)] if page else [])),
    ),
    st.lists(scvf_st, min_size=1, max_size=2),
    st.lists(_NONTRUNCATING, min_size=0, max_size=2),
    st.one_of(st.just(0), st.integers(min_value=1, max_value=4)),
)

_colstate_and_st = st.builds(
    lambda first, members, page: ast.FilterList(
        "MUST_PASS_ALL",
        tuple([first] + members + ([ast.PageFilter(page)] if page else [])),
    ),
    col_state_leaf_st,
    st.lists(_NONTRUNCATING, min_size=0, max_size=2),
    st.one_of(st.just(0), st.integers(min_value=1, max_value=4)),
)

_stateless_and_st = st.builds(
    lambda members, page: ast.FilterList(
        "MUST_PASS_ALL",
        tuple(members + ([ast.PageFilter(page)] if page else [])),
    ),
    st.lists(stateless_leaf_st, min_size=1, max_size=3),
    st.one_of(st.just(0), st.integers(min_value=1, max_value=4)),
)

and_list_st = st.one_of(_scvf_and_st, _colstate_and_st, _stateless_and_st)

or_list_st = st.one_of(
    st.builds(
        lambda members: ast.FilterList("MUST_PASS_ONE", tuple(members)),
        st.lists(stateless_leaf_st, min_size=1, max_size=3),
    ),
    st.builds(
        lambda members: ast.FilterList("MUST_PASS_ONE", tuple(members)),
        st.lists(
            scvf_st.filter(
                lambda f: type(f) is ast.SingleColumnValueFilter
            ),
            min_size=1,
            max_size=3,
        ),
    ),
)

# nested OR-inside-AND: a stateless OR list composes with any stateless
# leaf; a pure-SCVF OR list (row verdicts) only with non-truncating
# siblings (same reachability constraint as _scvf_and_st)
nested_st = st.one_of(
    st.builds(
        lambda inner, leaf: ast.FilterList("MUST_PASS_ALL", (inner, leaf)),
        st.builds(
            lambda members: ast.FilterList("MUST_PASS_ONE", tuple(members)),
            st.lists(stateless_leaf_st, min_size=1, max_size=3),
        ),
        st.one_of(cell_leaf_st, col_leaf_st),
    ),
    st.builds(
        lambda inner, leaf: ast.FilterList("MUST_PASS_ALL", (inner, leaf)),
        st.builds(
            lambda members: ast.FilterList("MUST_PASS_ONE", tuple(members)),
            st.lists(
                scvf_st.filter(
                    lambda f: type(f) is ast.SingleColumnValueFilter
                ),
                min_size=1,
                max_size=2,
            ),
        ),
        _NONTRUNCATING,
    ),
)

skip_st = st.builds(
    ast.SkipFilter,
    st.one_of(
        cell_leaf_st,
        # filterRowKey-state filters degenerate under Skip (r13 fix:
        # Skip never invokes the wrapped filterRowKey) — generate them
        # to exercise the degenerate semantics
        row_leaf_st,
        st.sampled_from([b"q", b"qa", b"qb"]).map(ast.ColumnPrefixFilter),
        scvf_st,
        st.builds(
            lambda ms: ast.FilterList("MUST_PASS_ALL", tuple(ms)),
            st.lists(
                st.one_of(cell_leaf_st, row_leaf_st), min_size=1, max_size=2
            ),
        ),
        st.builds(
            lambda ms: ast.FilterList("MUST_PASS_ONE", tuple(ms)),
            st.lists(
                st.one_of(cell_leaf_st, row_leaf_st), min_size=1, max_size=2
            ),
        ),
    ),
)

while_st = st.builds(
    ast.WhileMatchFilter,
    st.one_of(cell_leaf_st, row_leaf_st, scvf_st),
)


# ---------------------------------------------------------------------------
# the property tests
# ---------------------------------------------------------------------------

_VALUE_GRID = st.builds(
    lambda idx: (lambda r, fam, q: _VALS[
        idx[(_ROWS.index(r) * len(_FAMS) + _FAMS.index(fam)) * len(_QUALS)
            + _QUALS.index(q)]
    ]),
    st.lists(
        st.integers(min_value=0, max_value=len(_VALS) - 1),
        min_size=len(_ROWS) * len(_FAMS) * len(_QUALS),
        max_size=len(_ROWS) * len(_FAMS) * len(_QUALS),
    ),
)

_SETTINGS = settings(
    max_examples=ex(25), deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@_SETTINGS
@given(grid=_VALUE_GRID, f=st.one_of(and_list_st, nested_st))
def test_protocol_and_lists(spark, grid, f):
    _run_both(spark, _make_cells(grid), f)


@_SETTINGS
@given(grid=_VALUE_GRID, f=or_list_st)
def test_protocol_or_lists(spark, grid, f):
    _run_both(spark, _make_cells(grid), f)


@_SETTINGS
@given(grid=_VALUE_GRID, f=skip_st)
def test_protocol_skip(spark, grid, f):
    _run_both(spark, _make_cells(grid), f)


@_SETTINGS
@given(grid=_VALUE_GRID, f=while_st)
def test_protocol_while_match(spark, grid, f):
    _run_both(spark, _make_cells(grid), f)


@_SETTINGS
@given(
    grid=_VALUE_GRID,
    f=st.one_of(col_state_leaf_st, scvf_st, row_leaf_st, col_leaf_st),
    page=st.integers(min_value=1, max_value=7),
)
def test_protocol_leaves_and_page(spark, grid, f, page):
    _run_both(spark, _make_cells(grid), ast.FilterList(
        "MUST_PASS_ALL", (f, ast.PageFilter(page))
    ))


@settings(max_examples=ex(15), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(grid=_VALUE_GRID, f=st.one_of(while_st, row_leaf_st, skip_st))
def test_protocol_reversed(spark, grid, f):
    _run_both(spark, _make_cells(grid), f, reversed_scan=True)


# ---------------------------------------------------------------------------
# multi-version phase: filter-before-version-count order randomized.
# Two puts per column (ts 2000/1000); the scan's max_versions quota is
# consumed ONLY by filter-INCLUDEd cells (ScanQueryMatcher order:
# filterKeyValue precedes columns.checkVersions), so a rejected newer
# version lets the older one fill the quota — the semantics behind the
# engine's one matcher pass (compiler.compile_matcher): a list's per-cell
# conjuncts and its SCVF verdicts are judged before the version quota.
# ---------------------------------------------------------------------------

_MV_TSS = (2000, 1000)


def _make_mv_cells(value_at):
    cells = []
    seq = 0
    for r in _ROWS:
        for fam in _FAMS:
            for q in _QUALS:
                for ts in _MV_TSS:
                    seq += 1
                    cells.append(
                        (r, fam, q, ts, TYPE_PUT, value_at(r, fam, q, ts), seq)
                    )
    return cells


def _run_both_mv(spark, cells, f, max_versions, reversed_scan=False):
    meta = TableMeta(
        name="protomv",
        families=tuple(FamilyMeta(name=x, max_versions=2) for x in _FAMS),
    )
    t = Table(meta, spark.createDataFrame(cells, CELL_SCHEMA), now_ms=10_000)
    got = sorted(
        (bytes(r["row"]), r["family"], bytes(r["qualifier"]), r["ts"],
         None if r["value"] is None else bytes(r["value"]))
        for r in t.scan(
            filter=f, max_versions=max_versions, reversed=reversed_scan
        ).collect()
    )
    visible = [(r, fam, q, ts, v) for (r, fam, q, ts, _tp, v, _s) in cells]
    expected = sorted(
        (r, fam, q, ts, v)
        for (r, fam, q, ts, v) in ref_scan(
            visible, build_ref(f, reversed_scan), reversed_scan, max_versions
        )
    )
    assert got == expected, f"\nfilter={f} mv={max_versions}\n" \
        f"engine   ={got}\nreference={expected}"


_MV_VALUE_GRID = st.builds(
    lambda idx: (
        lambda r, fam, q, ts: _VALS[
            idx[((_ROWS.index(r) * len(_FAMS) + _FAMS.index(fam))
                 * len(_QUALS) + _QUALS.index(q))
                * len(_MV_TSS) + _MV_TSS.index(ts)]
        ]
    ),
    st.lists(
        st.integers(min_value=0, max_value=len(_VALS) - 1),
        min_size=len(_ROWS) * len(_FAMS) * len(_QUALS) * len(_MV_TSS),
        max_size=len(_ROWS) * len(_FAMS) * len(_QUALS) * len(_MV_TSS),
    ),
)

# Multi-version SCVFs are scoped to latestVersionOnly=true: the engine's
# DOCUMENTED any-version contract (compiler.compile_matcher docstring,
# pinned at scan level by
# test_filter_reference_suite.test_scvf_basic_latest_version_only) judges
# the live versions of the tested column within its family's
# max_versions, even on a maxVersions=1 scan, per the
# TestSingleColumnValueFilter.java:134-139 protocol test. The raw region
# walk differs for a LONE lvo=false SCVF: its non-matching newest version
# is INCLUDEd (SCVF never SKIPs), fills the version quota, and
# checkVersions seeks past the column, so deeper versions are never
# consulted — but a sibling that SKIPs the newest version exposes them
# again, i.e. the reference outcome is composition-dependent. The engine
# keeps the order-independent any-version contract (same artifact family
# as the documented mixed-OR divergence); excluded here, until the
# contract is adjudicated against the Java.
_mv_scvf_st = scvf_st.filter(lambda f: f.latest_version_only)

mv_filter_st = st.one_of(
    nontruncating_cell_leaf_st,
    st.builds(
        lambda tss: ast.TimestampsFilter(tuple(sorted(set(tss)))),
        st.lists(
            st.sampled_from([2000, 1000, 500]), min_size=1, max_size=2
        ),
    ),
    _mv_scvf_st,
    st.builds(
        lambda scvfs, members: ast.FilterList(
            "MUST_PASS_ALL", tuple(scvfs + members)
        ),
        st.lists(_mv_scvf_st, min_size=1, max_size=1),
        st.lists(nontruncating_cell_leaf_st, min_size=0, max_size=2),
    ),
    st.builds(ast.SkipFilter, nontruncating_cell_leaf_st),
)


# AND(SCVF latestVersionOnly=true, ValueFilter) at max_versions=1: the
# ValueFilter SKIPs every newest 'w', so each older 'v1' fills the quota;
# row d's newest tested value fails the SCVF and drops the row. An engine
# that judges the ValueFilter after the quota returns only fa:qa.
_AND_SCVF_VALUE = dict(
    grid=lambda r, fam, q, ts: (
        b"v1" if ts == 1000 or ((fam, q) == ("fa", b"qa") and r != b"d")
        else b"w"
    ),
    f=ast.FilterList("MUST_PASS_ALL", (
        ast.SingleColumnValueFilter(
            "fa", b"qa", "EQUAL", ast.BinaryComparator(b"v1"),
            filter_if_missing=False, latest_version_only=True,
        ),
        ast.ValueFilter(op="EQUAL", comparator=ast.BinaryComparator(b"v1")),
    )),
    max_versions=1,
)


@_SETTINGS
@given(
    grid=_MV_VALUE_GRID,
    f=mv_filter_st,
    max_versions=st.sampled_from([1, 2]),
)
@example(**_AND_SCVF_VALUE)
def test_protocol_multi_version(spark, grid, f, max_versions):
    _run_both_mv(spark, _make_mv_cells(grid), f, max_versions)


@settings(max_examples=ex(15), deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    grid=_MV_VALUE_GRID,
    f=mv_filter_st,
    max_versions=st.sampled_from([1, 2]),
)
@example(**_AND_SCVF_VALUE)
def test_protocol_multi_version_reversed(spark, grid, f, max_versions):
    _run_both_mv(
        spark, _make_mv_cells(grid), f, max_versions, reversed_scan=True
    )


def test_scvf_on_unselected_column_falls_back_to_fim(spark):
    """STEP 1 of ScanQueryMatcher.match (SQM.java:428-431) checks the
    scan's column selection BEFORE the filter runs, so an SCVF whose
    tested column is NOT among the selected columns never sees it —
    foundColumn stays false and filterIfMissing decides, even though
    the column exists in the row (the classic 'SCVF needs addColumn'
    footgun; engine order: projection precedes the filter algebra)."""
    cells = _make_cells(lambda r, fam, q: b"v1")
    t = Table(
        TableMeta(name="sel", families=tuple(FamilyMeta(name=x) for x in _FAMS)),
        spark.createDataFrame(cells, CELL_SCHEMA),
        now_ms=10_000,
    )
    scvf = lambda fim: ast.SingleColumnValueFilter(  # noqa: E731
        "fa", b"qa", "EQUAL", ast.BinaryComparator(b"v1"),
        filter_if_missing=fim, latest_version_only=True,
    )
    sel = (("fa", b"qb"), ("fa", b"qc"))
    # fim=True: every row dropped (tested column invisible to the scan)
    assert t.scan(columns=sel, filter=scvf(True)).count() == 0
    # fim=False: every row passes; only the selected columns emitted
    got = {
        bytes(r["qualifier"])
        for r in t.scan(columns=sel, filter=scvf(False)).collect()
    }
    assert got == {b"qb", b"qc"}


def test_rejected_newer_version_does_not_consume_quota(spark):
    """The non-vacuous core of the phase, pinned: on a max_versions=1
    scan, ValueFilter rejecting the NEWER version lets the OLDER one
    fill the quota (filter precedes checkVersions) — a version-first
    engine would return nothing."""
    grid = lambda r, fam, q, ts: b"old" if ts == 1000 else b"new"  # noqa: E731
    cells = _make_mv_cells(grid)
    f = ast.ValueFilter(op="EQUAL", comparator=ast.BinaryComparator(b"old"))
    meta = TableMeta(
        name="protomv",
        families=tuple(FamilyMeta(name=x, max_versions=2) for x in _FAMS),
    )
    t = Table(meta, spark.createDataFrame(cells, CELL_SCHEMA), now_ms=10_000)
    got = {
        (r["ts"], bytes(r["value"]))
        for r in t.scan(filter=f, max_versions=1).collect()
    }
    assert got == {(1000, b"old")}
    n = t.scan(filter=f, max_versions=1).count()
    assert n == len(_ROWS) * len(_FAMS) * len(_QUALS)


@pytest.mark.parametrize("max_versions", [1, 2])
def test_scvf_verdict_gates_family_groups_with_different_limits(
    spark, max_versions
):
    """Families fa (max_versions=1) and fb (max_versions=2) read as two
    family groups. An SCVF on one family judges before either group's
    version quota and gates the other family's cells: latestVersionOnly
    judges the newest tested version; an any-version SCVF the versions
    within its family's limit; a sibling ValueFilter SKIPs fb's newest
    version, so an older one fills the quota."""
    cells = [
        (b"r1", "fa", b"qa", 2000, TYPE_PUT, b"yes", 1),
        (b"r2", "fa", b"qa", 2000, TYPE_PUT, b"no", 2),
        (b"r2", "fa", b"qa", 1000, TYPE_PUT, b"yes", 3),
    ] + [
        (r, "fb", b"qb", ts, TYPE_PUT, b"x%d" % (ts // 1000), 10 + ts // 1000)
        for r in (b"r1", b"r2")
        for ts in (3000, 2000, 1000)
    ]
    meta = TableMeta(name="groups", families=(
        FamilyMeta(name="fa", max_versions=1),
        FamilyMeta(name="fb", max_versions=2),
    ))
    t = Table(meta, spark.createDataFrame(cells, CELL_SCHEMA), now_ms=10_000)

    def scan(f):
        return sorted(
            (bytes(r["row"]), r["family"], r["ts"])
            for r in t.scan(filter=f, max_versions=max_versions).collect()
        )

    def scvf(fam, q, value, lvo):
        return ast.SingleColumnValueFilter(
            fam, q, "EQUAL", ast.BinaryComparator(value),
            filter_if_missing=True, latest_version_only=lvo,
        )

    fb_newest = [3000, 2000][:max_versions]
    r1 = sorted([(b"r1", "fa", 2000)] + [(b"r1", "fb", ts) for ts in fb_newest])
    r2 = sorted([(b"r2", "fa", 2000)] + [(b"r2", "fb", ts) for ts in fb_newest])
    # fa's newest value gates fb; r2's older 'yes' is past fa's limit of
    # one version, for the any-version SCVF too
    assert scan(scvf("fa", b"qa", b"yes", True)) == r1
    assert scan(scvf("fa", b"qa", b"yes", False)) == r1
    # fb's second version is within fb's limit, its third is not
    assert scan(scvf("fb", b"qb", b"x2", False)) == sorted(r1 + r2)
    assert scan(scvf("fb", b"qb", b"x1", False)) == []
    assert scan(scvf("fb", b"qb", b"x2", True)) == []
    # a sibling ValueFilter rejects fb's newest version before the quota
    no_x3 = ast.ValueFilter(op="NOT_EQUAL", comparator=ast.BinaryComparator(b"x3"))
    got = scan(ast.FilterList(
        "MUST_PASS_ALL", (scvf("fa", b"qa", b"yes", True), no_x3)
    ))
    assert got == sorted([(b"r1", "fa", 2000)] + [
        (b"r1", "fb", ts) for ts in [2000, 1000][:max_versions]
    ])


# ---------------------------------------------------------------------------
# deterministic pins for the r13 WhileMatch mid-row fix
# ---------------------------------------------------------------------------


def _wm_cells(bad_at):
    cells = []
    seq = 0
    for r in [b"r1", b"r2", b"r3"]:
        for fam in _FAMS:
            for q in _QUALS:
                seq += 1
                v = b"bad" if (r, fam, q) in bad_at else b"good"
                cells.append((r, fam, q, 1000, TYPE_PUT, v, seq))
    return cells


def _wm_scan(spark, cells, reversed_scan=False):
    t = Table(
        TableMeta(name="wm", families=tuple(FamilyMeta(name=x) for x in _FAMS)),
        spark.createDataFrame(cells, CELL_SCHEMA),
        now_ms=10_000,
    )
    f = ast.WhileMatchFilter(
        ast.ValueFilter(op="EQUAL", comparator=ast.BinaryComparator(b"good"))
    )
    return sorted(
        (bytes(r["row"]), r["family"], bytes(r["qualifier"]))
        for r in t.scan(filter=f, reversed=reversed_scan).collect()
    )


def test_while_match_mid_row_emits_passing_prefix(spark):
    """The first failing row's passing KV prefix survives: WhileMatch
    sets filterAllRemaining on the first non-INCLUDE code
    (WhileMatchFilter.java:110-114), the matcher DONE_SCANs at the NEXT
    cell (ScanQueryMatcher.java:283-286), and the partial result list is
    emitted through filterRow()==false (StoreScanner.java:608-610 +
    FilterWrapper.java:157-172)."""
    got = _wm_scan(spark, _wm_cells({(b"r2", "fa", b"qb")}))
    full_r1 = [(b"r1", fam, q) for fam in _FAMS for q in _QUALS]
    assert got == sorted(full_r1 + [(b"r2", "fa", b"qa")])


def test_while_match_mid_row_cross_family(spark):
    """A failure in family fa excludes fb's cells of that row too — the
    shared filter's filterAllRemaining gates every store."""
    got = _wm_scan(spark, _wm_cells({(b"r2", "fa", b"qc")}))
    full_r1 = [(b"r1", fam, q) for fam in _FAMS for q in _QUALS]
    assert got == sorted(full_r1 + [(b"r2", "fa", b"qa"), (b"r2", "fa", b"qb")])


def test_while_match_mid_row_reversed(spark):
    """Reversed scan: rows descend (r3 first) but cells within the row
    still ascend, so the prefix of the failing row is still its
    KV-ascending head."""
    got = _wm_scan(spark, _wm_cells({(b"r2", "fb", b"qa")}), reversed_scan=True)
    full_r3 = [(b"r3", fam, q) for fam in _FAMS for q in _QUALS]
    fa_r2 = [(b"r2", "fa", q) for q in _QUALS]
    assert got == sorted(full_r3 + fa_r2)


def test_while_match_first_cell_fail_emits_nothing_more(spark):
    """A failure at the very first cell of a row leaves an empty prefix
    (the row-level analog: no partials)."""
    got = _wm_scan(spark, _wm_cells({(b"r1", "fa", b"qa")}))
    assert got == []


# ---------------------------------------------------------------------------
# deterministic pins for the r13 Skip(row-level filter) degeneration fix:
# SkipFilter never invokes the wrapped filterRowKey (it inherits
# FilterBase.filterRowKey; only filterKeyValue codes feed changeFR,
# SkipFilter.java:79-83), so filterRowKey-state filters degenerate
# ---------------------------------------------------------------------------


def _skip_scan(spark, f):
    cells = _make_cells(lambda r, fam, q: b"v1")
    t = Table(
        TableMeta(name="sk", families=tuple(FamilyMeta(name=x) for x in _FAMS)),
        spark.createDataFrame(cells, CELL_SCHEMA),
        now_ms=10_000,
    )
    return sorted({bytes(r["row"]) for r in t.scan(filter=f).collect()})


def test_skip_row_filter_is_identity(spark):
    """RowFilter's verdict lives in filterRowKey (RowFilter.java:66-71
    sets filterOutRow), which Skip never calls — every filterKeyValue
    code stays INCLUDE, so Skip(RowFilter) keeps every row."""
    f = ast.SkipFilter(ast.RowFilter(
        op="EQUAL", comparator=ast.BinaryComparator(b"b")
    ))
    assert _skip_scan(spark, f) == sorted(_ROWS)


def test_skip_prefix_filter_drops_everything(spark):
    """PrefixFilter resets its per-row flag to TRUE (PrefixFilter.java:
    83-85) and returns NEXT_ROW while it is set (:70-73); under Skip the
    flag is never cleared by filterRowKey, so every cell fails and every
    row is skipped — even rows that DO match the prefix."""
    f = ast.SkipFilter(ast.PrefixFilter(b"a"))
    assert _skip_scan(spark, f) == []


def test_skip_inclusive_stop_is_identity(spark):
    """InclusiveStopFilter.done is only set in filterRowKey
    (InclusiveStopFilter.java:62-72) — identity under Skip."""
    f = ast.SkipFilter(ast.InclusiveStopFilter(stop_row=b"b"))
    assert _skip_scan(spark, f) == sorted(_ROWS)


# ---------------------------------------------------------------------------
# r13 pin: pagination filters on MULTI-VERSION scans take one (newest)
# version per column — INCLUDE_AND_NEXT_COL advances the whole column
# (ColumnPaginationFilter.java:139-141, ColumnCountGetFilter.java:60-63)
# ---------------------------------------------------------------------------


def _mv_table(spark):
    """One row, one family, three columns x two versions each."""
    cells = []
    seq = 0
    for q in _QUALS:
        for ts, v in ((2000, b"new"), (1000, b"old")):
            seq += 1
            cells.append((b"r", "fa", q, ts, TYPE_PUT, v, seq))
    meta = TableMeta(
        name="mv",
        families=(FamilyMeta(name="fa", max_versions=3),),
    )
    return Table(meta, spark.createDataFrame(cells, CELL_SCHEMA), now_ms=10_000)


def _mv_collect(t, f):
    return sorted(
        (bytes(r["qualifier"]), r["ts"], bytes(r["value"]))
        for r in t.scan(filter=f, max_versions=3).collect()
    )


def test_column_pagination_multi_version_newest_only(spark):
    t = _mv_table(spark)
    got = _mv_collect(t, ast.ColumnPaginationFilter(limit=2, offset=1))
    assert got == [(b"qb", 2000, b"new"), (b"qc", 2000, b"new")]


def test_column_count_get_multi_version_newest_only(spark):
    t = _mv_table(spark)
    got = _mv_collect(t, ast.ColumnCountGetFilter(limit=2))
    assert got == [(b"qa", 2000, b"new"), (b"qb", 2000, b"new")]
