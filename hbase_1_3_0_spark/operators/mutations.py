"""Mutation operators: Put / Delete / Increment / Append / checkAndMutate.

Reference write path (SURVEY.md §3.3): client mutations flow through
HRegion.batchMutate (HRegion.java:2925) with row locks + MVCC sequence
numbers; read-modify-write ops (increment HRegion.java:7665, append :7383,
checkAndMutate :3493) read the current row view under the lock and apply.

Spark model: a mutation batch is a DataFrame of typed mutation records
(FIXTURES.md §F5); applying a batch = a deterministic transformation
``cells -> cells'`` (append of new Put/tombstone cells). The MVCC ``seq``
analog is the batch sequence column; atomicity = the all-or-nothing file
commit of one write job. RMW semantics are *batch-wise*: Increment folds
Σdelta per key in one partial-aggregatable groupBy (the classic streaming
counter pattern); checkAnd* evaluates its predicate against the pre-batch
read view (F5 invariant).

Scale: every RMW op touches only the mutated keys. When the mutation frame
is driver data (a ``createDataFrame`` list or a local relation, through
projections and filters only) of at most
``spark.sql.parquet.pushdown.inFilterThreshold`` rows whose key set is under
``spark.sql.autoBroadcastJoinThreshold`` (:func:`small_key_frame`), the RMW
takes the small-key path: the keys prune the log in the parquet scan, the
touched cells and the mutations sit in one partition, and judge, fold and
join plan without exchanges. Its small delta (CAS ``judged`` /
increment-append ``new_vals``) is local-checkpointed lazily
(:func:`_delta_once`), so the returned verdicts or results and the next
Table's cells share ONE computation, and a chain of RMW calls plans in
constant depth — the memstore analog. Each such checkpoint is a few rows, one per RMW call,
held in the block manager while a frame built on it is reachable (at most
for the session). Computed or larger mutation frames keep the general
path: a broadcast semi join of the key set against the log, so the 100 TB
cell log is never shuffled to apply a batch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hbase_1_3_0_spark.cells import (
    CELL_COLUMNS,
    TYPE_DELETE_COLUMN,
    TYPE_DELETE_FAMILY,
    TYPE_DELETE_FAMILY_VERSION,
    TYPE_DELETE_VERSION,
    TYPE_PUT,
)
from hbase_1_3_0_spark.functions import codecs
from hbase_1_3_0_spark.operators.read_view import (
    local_lookup,
    pin_rows,
    read_view,
    small_key_limit,
    small_key_set,
)

OP_TO_TYPE = {
    "put": TYPE_PUT,
    "delete_version": TYPE_DELETE_VERSION,
    "delete_family_version": TYPE_DELETE_FAMILY_VERSION,
    "delete_column": TYPE_DELETE_COLUMN,
    "delete_family": TYPE_DELETE_FAMILY,
}


def _decode(value: Column, codec: str) -> Column:
    return (
        codecs.decode_long_be(value)
        if codec == "be8"
        else codecs.decode_value(value, T.LongType())
    )


def _encode(num: Column, codec: str) -> Column:
    return codecs.encode_long_be(num) if codec == "be8" else codecs.encode_value(num)


def put_cells(cells: DataFrame, new_cells: DataFrame) -> DataFrame:
    """Append Put/tombstone cells to the log (Table.put, Table.java:227)."""
    return cells.unionByName(new_cells.select(*CELL_COLUMNS))


def mutations_to_cells(mutations: DataFrame, *, now_ms: int) -> DataFrame:
    """Typed mutation records (op/row/family/qualifier/ts/value/batch_seq) ->
    cells. Timestamp defaults to server now (Put.java:52 semantics)."""
    op_type = F.create_map(
        *[x for k, v in OP_TO_TYPE.items() for x in (F.lit(k), F.lit(v))]
    )[F.col("op")]
    return mutations.select(
        F.col("row"),
        F.col("family"),
        F.col("qualifier"),
        F.coalesce(F.col("ts"), F.lit(now_ms)).cast(T.LongType()).alias("ts"),
        op_type.cast(T.IntegerType()).alias("type"),
        F.col("value"),
        F.coalesce(F.col("batch_seq"), F.lit(0)).cast(T.LongType()).alias("seq"),
    ).select(*CELL_COLUMNS)


#: logical operators a driver-data mutation frame may carry above its
#: leaf relation and still count as driver data
_NARROW_NODES = frozenset({"Project", "Filter"})


def _parallelized(rdd) -> bool:
    """True for an RDD that is a chain of one-to-one maps over a
    ParallelCollectionRDD — the shape ``createDataFrame(list)`` builds."""
    while rdd.getClass().getSimpleName() != "ParallelCollectionRDD":
        deps = rdd.dependencies()
        if deps.size() != 1:
            return False
        dep = deps.head()
        if dep.getClass().getSimpleName() != "OneToOneDependency":
            return False
        rdd = dep.rdd()
    return True


def _driver_data(plan) -> bool:
    name = plan.getClass().getSimpleName()
    if name in _NARROW_NODES:
        return _driver_data(plan.child())
    if name == "LocalRelation":
        return True
    return name == "LogicalRDD" and _parallelized(plan.rdd())


def local_relation(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """``rows`` as a LocalRelation: one Arrow batch handed to the JVM, so
    plans over it run no Python worker (a ``createDataFrame(list)`` frame
    re-runs one per partition on every action)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


#: column types a collect() + Arrow rebuild returns unchanged (a timestamp,
#: for one, comes back as a naive local-time datetime)
_FLAT_TYPES = (
    T.BinaryType, T.StringType, T.LongType, T.IntegerType, T.BooleanType
)


def small_key_frame(frame: DataFrame) -> tuple[DataFrame, list[bytes] | None]:
    """The small-key path's engagement rule for a mutation frame.

    Engages when the frame is driver data — its optimized plan is a local
    relation or a parallelized driver list, under projections and filters
    only — of at most read_view.small_key_limit rows, and its row-key set
    passes read_view.small_key_set. Returns ``(one-partition frame,
    keys)``. A parallelized list of flat-typed columns is rebuilt from its
    collected rows as a LocalRelation, so later plans over it run no
    Python worker; other frames are coalesced as they are. Otherwise
    ``(frame, None)``: computed or larger frames keep the general path
    untouched."""
    plan = frame._jdf.queryExecution().optimizedPlan()
    if not _driver_data(plan):
        return frame, None
    spark = frame.sparkSession
    limit = small_key_limit(spark)
    rows = frame.take(limit + 1)
    if len(rows) > limit:
        return frame, None
    keys = small_key_set(spark, (r["row"] for r in rows))
    if keys is None:
        return frame, None
    if plan.getClass().getSimpleName() != "LocalRelation" and all(
        isinstance(f.dataType, _FLAT_TYPES) for f in frame.schema
    ):
        frame = local_relation(spark, rows, frame.schema)
    return frame.coalesce(1), keys


def _delta_once(delta: DataFrame) -> DataFrame:
    """Compute a small-key RMW delta once: a lazy local checkpoint, so the
    returned verdicts or results and the next Table's cells share one
    computation and chained plans start from this leaf."""
    return delta.localCheckpoint(eager=False)


def _attach(left: DataFrame, cur: DataFrame, on: list[str], local: bool) -> DataFrame:
    """Left-join the current values onto the mutation records: a window
    lookup on the small-key path, a plain join (AQE broadcasts ``cur``)
    otherwise."""
    return local_lookup(left, cur, on) if local else left.join(cur, on, "left")


def _current_values(
    cells: DataFrame,
    keys: DataFrame,
    pinned: list[bytes] | None = None,
    **rv_kwargs,
) -> DataFrame:
    """Latest visible value for each (row,family,qualifier) in ``keys``.

    The key set is tiny relative to the log: ``pinned`` (the small-key
    path) prunes the log to those rows in the scan, in one partition;
    otherwise a semi-join runs the read view over only the touched rows
    (AQE broadcasts the key side).
    """
    if pinned is not None:
        touched = pin_rows(cells, pinned)
    else:
        touched = cells.join(
            F.broadcast(keys.select("row").distinct()), "row", "left_semi"
        )
    view = read_view(
        touched, max_versions=1, local=pinned is not None, **rv_kwargs
    )
    return view.select(
        "row", "family", "qualifier", F.col("value").alias("_cur"), F.col("ts")
    )


def increment(
    cells: DataFrame,
    increments: DataFrame,
    *,
    now_ms: int,
    codec: str = "be8",
    batch_seq: int = 0,
    time_range: tuple[int, int] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Atomic counter adds (Table.increment, Table.java:369; server
    HRegion.increment:7665). Counters are 8-byte big-endian longs
    (``codec='be8'``; Bytes.toBytes(long)).

    ``increments``: row, family, qualifier, delta (long). Multiple deltas to
    one key fold first (Σdelta — partial aggregation), then a single join
    reads the pre-batch value; a missing column initializes to the delta
    (HRegion.java:7859). API-shape note: a reference ``Increment`` object is
    a per-column MAP — ``addColumn`` on the same column REPLACES the amount
    (TestIncrementsFromClientSide.java:288 testIncrementOnSameColumn) —
    while rows here are distinct increment OPERATIONS that fold by Σ;
    callers porting a reference Increment should pre-dedup its columns. ``time_range`` restricts the read-back of the
    current value (Increment.setTimeRange, Increment.java:158): a current
    version outside the range reads as absent, so the counter re-initializes
    to the delta. Returns (new_cells, results) — results mirror
    setReturnResults (Increment.java:169) with the post-increment value.
    """
    increments, pinned = small_key_frame(increments)
    local = pinned is not None
    folded = increments.groupBy("row", "family", "qualifier").agg(
        F.sum("delta").alias("_delta")
    )
    cur = _current_values(cells, folded, pinned, time_range=time_range)
    new_value = (
        F.coalesce(_decode(F.col("_cur"), codec), F.lit(0)) + F.col("_delta")
    )
    if codec == "be8":
        # The reference REJECTS a current value that isn't 8 bytes wide
        # rather than misreading it (HRegion.java:7920 "Field is not a
        # long, it's <len> bytes wide" -> DoNotRetryIOException;
        # TestIncrementsFromClientSide.java:163 testIncrementingInvalidValue)
        width_ok = F.assert_true(
            F.col("_cur").isNull() | (F.length("_cur") == 8),
            F.concat(
                F.lit("Field is not a long, it's "),
                F.length("_cur").cast("string"),
                F.lit(" bytes wide"),
            ),
        )
        # the guard must stay side-effect-only: assert_true yields NULL
        # when it doesn't raise, so adding coalesce(cast(guard), 0) keeps
        # the value exact while forcing the assert to evaluate. (A
        # when(guard-null, v).otherwise(v) form is folded away by
        # Catalyst's equal-branch simplification — the assert vanishes.)
        new_value = new_value + F.coalesce(
            width_ok.cast("long"), F.lit(0).cast("long")
        )
    new_vals = (
        _attach(folded, cur, ["row", "family", "qualifier"], local)
        .select(
            "row",
            "family",
            "qualifier",
            new_value.alias("new_value"),
        )
    )
    if local:
        new_vals = _delta_once(new_vals)
    new_cells = new_vals.select(
        "row",
        "family",
        "qualifier",
        F.lit(now_ms).cast(T.LongType()).alias("ts"),
        F.lit(TYPE_PUT).alias("type"),
        _encode(F.col("new_value"), codec).alias("value"),
        F.lit(batch_seq).cast(T.LongType()).alias("seq"),
    ).select(*CELL_COLUMNS)
    return put_cells(cells, new_cells), new_vals


def append_value(
    cells: DataFrame,
    appends: DataFrame,
    *,
    now_ms: int,
    batch_seq: int = 0,
    time_range: tuple[int, int] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Atomic byte-concatenation (Table.append, Table.java:354; server
    HRegion.append:7383). ``appends``: row, family, qualifier, value,
    batch_seq — multiple appends to one key concatenate in batch_seq order
    (within-batch ordering determinism, SURVEY.md §7 watch-list #4).
    ``time_range`` bounds the current-value read-back (Append inherits
    Mutation's time range, as Increment.java:158 does for Increment)."""
    appends, pinned = small_key_frame(appends)
    local = pinned is not None
    folded = appends.groupBy("row", "family", "qualifier").agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("batch_seq"), F.col("value")))
            ),
            F.lit(b""),
            lambda acc, x: F.concat(acc, x["value"]),
        ).alias("_suffix")
    )
    cur = _current_values(cells, folded, pinned, time_range=time_range)
    new_vals = (
        _attach(folded, cur, ["row", "family", "qualifier"], local)
        .select(
            "row",
            "family",
            "qualifier",
            F.concat(
                F.coalesce(F.col("_cur"), F.lit(b"")), F.col("_suffix")
            ).alias("new_value"),
        )
    )
    if local:
        new_vals = _delta_once(new_vals)
    new_cells = new_vals.select(
        "row",
        "family",
        "qualifier",
        F.lit(now_ms).cast(T.LongType()).alias("ts"),
        F.lit(TYPE_PUT).alias("type"),
        F.col("new_value").alias("value"),
        F.lit(batch_seq).cast(T.LongType()).alias("seq"),
    ).select(*CELL_COLUMNS)
    return put_cells(cells, new_cells), new_vals


def _check_pred(op_col: Column, cur: Column, expected: Column) -> Column:
    """CompareOp predicate for CAS (Table.checkAndPut, Table.java:257).

    DIRECTION (fixed r11 — found by the TestFromClientSide
    testCheckAndPutWithCompareOp battery): the reference computes
    ``compareResult = comparator(EXPECTED).compareTo(cellValue)`` and
    matches ``compareResult <op> 0`` (HRegion.checkAndMutate:3549-3573),
    i.e. the check passes iff ``expected <op> cellValue`` — with cell
    "bbbb", a LESS check against "aaaa" MATCHES (aaaa < bbbb). Note this
    is the opposite operand order from the filter algebra's
    CompareFilter convention.

    A null expected value means "column must not exist"; an existing
    ZERO-LENGTH value also matches a null expected value (HRegion.checkAndMutate
    treats getValueLength()==0 as absent)."""
    missing_ok = expected.isNull() & (cur.isNull() | (F.length(cur) == 0))
    cmp = (
        F.when(op_col == "LESS", expected < cur)
        .when(op_col == "LESS_OR_EQUAL", expected <= cur)
        .when(op_col == "EQUAL", expected == cur)
        .when(op_col == "NOT_EQUAL", expected != cur)
        .when(op_col == "GREATER_OR_EQUAL", expected >= cur)
        .when(op_col == "GREATER", expected > cur)
        .otherwise(F.lit(False))
    )
    return missing_ok | F.coalesce(cmp, F.lit(False))


def _judge_checks(
    cells: DataFrame, checks: DataFrame, pinned: list[bytes] | None = None
) -> DataFrame:
    """Shared CAS judging: attach the pre-batch current value of each
    record's checked column and evaluate its CompareOp predicate into a
    ``_pass`` column. ``checks`` carries row, check_family,
    check_qualifier, check_op, check_value (+ any payload columns, which
    pass through untouched). ``pinned``: the small-key path's keys, with
    ``checks`` already in one partition."""
    keys = checks.select(
        "row",
        F.col("check_family").alias("family"),
        F.col("check_qualifier").alias("qualifier"),
    )
    cur = _current_values(cells, keys, pinned).select(
        "row",
        F.col("family").alias("check_family"),
        F.col("qualifier").alias("check_qualifier"),
        F.col("_cur"),
    )
    return _attach(
        checks, cur, ["row", "check_family", "check_qualifier"], pinned is not None
    ).withColumn(
        "_pass",
        _check_pred(F.col("check_op"), F.col("_cur"), F.col("check_value")),
    )


def check_and_mutate(
    cells: DataFrame,
    mutations: DataFrame,
    *,
    now_ms: int,
) -> tuple[DataFrame, DataFrame]:
    """Single-row CAS, batch form (HRegion.checkAndMutate, HRegion.java:3493).

    ``mutations``: op, row, family, qualifier, ts, value, check_family,
    check_qualifier, check_op, check_value, batch_seq. The predicate is
    evaluated against the PRE-batch read view (F5 invariant); passing
    mutations apply as cells. Returns (new_cells, per-mutation verdicts).
    """
    mutations, pinned = small_key_frame(mutations)
    judged = _judge_checks(cells, mutations, pinned)
    if pinned is not None:
        judged = _delta_once(judged)
    passing = judged.where(F.col("_pass"))
    new_cells = mutations_to_cells(
        passing.select(
            "op", "row", "family", "qualifier", "ts", "value", "batch_seq"
        ),
        now_ms=now_ms,
    )
    verdicts = judged.select(
        "row", "family", "qualifier", "op", F.col("_pass").alias("applied")
    )
    return put_cells(cells, new_cells), verdicts


def check_and_mutate_row(
    cells: DataFrame,
    groups: DataFrame,
    mutations: DataFrame,
    *,
    now_ms: int,
) -> tuple[DataFrame, DataFrame]:
    """CAS-guarded RowMutations: one predicate gates an atomic multi-op
    group (Table.checkAndMutate(row, family, qualifier, compareOp, value,
    RowMutations), Table.java:596; server HRegion.checkAndRowMutate;
    scenario: TestCheckAndMutate.java:56 — an EQUAL check on one column
    gating {put A, put B, deleteColumn C} on the row).

    ``groups``: one record per mutation group — group_id, row,
    check_family, check_qualifier, check_op, check_value (null = column
    must not exist, per the reference javadoc).
    ``mutations``: op, group_id, row, family, qualifier, ts, value,
    batch_seq — the RowMutations payload; ops may mix puts and any
    tombstone kind.

    Each group's predicate is evaluated against the PRE-batch read view
    (F5 invariant); a passing group applies ALL of its mutations, a
    failing group applies NONE. All passing groups commit in one write
    job, so per-group atomicity is inherent in the batch model. The
    passing group-id set is tiny relative to the log and broadcasts to
    the mutation semi-join; the cell log is never shuffled.

    Returns (new_cells, verdicts) — verdicts: group_id, row, applied.
    """
    judged = _judge_checks(cells, groups)
    passing_ids = judged.where(F.col("_pass")).select("group_id")
    applied = mutations.join(F.broadcast(passing_ids), "group_id", "left_semi")
    new_cells = mutations_to_cells(
        applied.select(
            "op", "row", "family", "qualifier", "ts", "value", "batch_seq"
        ),
        now_ms=now_ms,
    )
    verdicts = judged.select(
        "group_id", "row", F.col("_pass").alias("applied")
    )
    return put_cells(cells, new_cells), verdicts


def mutate_rows(
    cells: DataFrame,
    mutations: DataFrame,
    regions: DataFrame,
    *,
    now_ms: int,
) -> tuple[DataFrame, DataFrame]:
    """MultiRowMutationEndpoint analog: atomic multi-ROW mutation
    groups, each confined to one region
    (MultiRowMutationEndpoint.java:84 mutateRows — the
    secondary-index-maintenance idiom: data row + index row commit
    together or not at all).

    ``mutations``: group_id, op, row, family, qualifier, ts, value,
    batch_seq — one group per intended mutateRows RPC; ops may mix
    puts and tombstone kinds.
    ``regions``: (region, start_key, end_key) byte boundaries —
    metadata-scale, broadcast. Containment is HRegion.rowIsInRange:
    start inclusive (null/empty = unbounded low), end EXCLUSIVE
    (null/empty = unbounded high).

    Verdict per group mirrors the endpoint's two failure modes
    (:99-110): a row landing in NO region is ``wrong_region`` (the
    reference's retryable WrongRegionException — region may have
    moved); rows split across regions is ``region_split`` (the
    reference's DoNotRetryIOException). A passing group applies ALL
    its mutations, a failing group applies NONE; all passing groups
    commit in one write job, so group atomicity is inherent in the
    batch model (the reference gets it from mutateRowsWithLocks'
    sorted row locks — locking is subsumed by the batch commit
    point).

    Scale shape: region table broadcasts to a nested-loop range join
    against the batch's DISTINCT (group, row) pairs only — the cell
    log is never touched until the final put of passing cells; the
    passing-group id set broadcasts to the mutation semi-join.

    Returns (new_cells, verdicts) — verdicts: group_id, applied,
    reason ('ok' | 'wrong_region' | 'region_split').
    """
    r = F.broadcast(
        regions.select(
            F.col("region").alias("_region"),
            F.col("start_key").alias("_rstart"),
            F.col("end_key").alias("_rend"),
        )
    )
    in_range = (
        F.col("_rstart").isNull()
        | (F.length("_rstart") == 0)
        | (F.col("row") >= F.col("_rstart"))
    ) & (
        F.col("_rend").isNull()
        | (F.length("_rend") == 0)
        | (F.col("row") < F.col("_rend"))
    )
    located = (
        mutations.select("group_id", "row").distinct().join(r, in_range, "left")
    )
    per_group = located.groupBy("group_id").agg(
        F.countDistinct("_region").alias("_nreg"),
        F.sum(
            F.when(F.col("_region").isNull(), 1).otherwise(0)
        ).alias("_nout"),
    )
    ok = (F.col("_nreg") == 1) & (F.col("_nout") == 0)
    verdicts = per_group.select(
        "group_id",
        ok.alias("applied"),
        F.when(ok, F.lit("ok"))
        .when(F.col("_nout") > 0, F.lit("wrong_region"))
        .otherwise(F.lit("region_split"))
        .alias("reason"),
    )
    passing_ids = verdicts.where(F.col("applied")).select("group_id")
    applied = mutations.join(F.broadcast(passing_ids), "group_id", "left_semi")
    new_cells = mutations_to_cells(
        applied.select(
            "op", "row", "family", "qualifier", "ts", "value", "batch_seq"
        ),
        now_ms=now_ms,
    )
    return put_cells(cells, new_cells), verdicts


def mutate_row(
    cells: DataFrame, mutations: DataFrame, *, now_ms: int
) -> DataFrame:
    """RowMutations: atomic multi-op on single rows (Table.mutateRow,
    Table.java:339; HRegion.mutateRow:7066). In the batch model all ops of a
    batch commit in one write job, so per-row atomicity is inherent; the
    batch_seq column preserves intra-row op order."""
    return put_cells(cells, mutations_to_cells(mutations, now_ms=now_ms))


def apply_mutation_batch(
    cells: DataFrame,
    mutations: DataFrame,
    *,
    now_ms: int,
    codec: str = "be8",
) -> DataFrame:
    """Mixed batch (Table.batch, Table.java:119): route by op kind, one pass
    per kind, single logical commit (AsyncProcess per-server grouping
    replaced by Spark job scheduling, AsyncProcess.java:101).

    Routing is decided from ONE tiny aggregation over the op column (not one
    ``isEmpty()`` action per kind): a single driver pass before the commit
    job regardless of how many op kinds the batch mixes."""
    present = {
        r[0] for r in mutations.select("op").distinct().collect()
    }
    out = cells
    if present & set(OP_TO_TYPE.keys()):
        plain = mutations.where(F.col("op").isin(*OP_TO_TYPE.keys()))
        out = put_cells(out, mutations_to_cells(plain, now_ms=now_ms))
    if "increment" in present:
        incs = mutations.where(F.col("op") == "increment")
        out, _ = increment(
            out,
            incs.select(
                "row", "family", "qualifier", _decode(F.col("value"), codec).alias("delta")
            ),
            now_ms=now_ms,
            codec=codec,
        )
    if "append" in present:
        apps = mutations.where(F.col("op") == "append")
        out, _ = append_value(
            out,
            apps.select("row", "family", "qualifier", "value", "batch_seq"),
            now_ms=now_ms,
        )
    if any(op.startswith("check_and_") for op in present):
        cas = mutations.where(F.col("op").startswith("check_and_"))
        out, _ = check_and_mutate(
            out,
            cas.withColumn(
                "op", F.regexp_replace(F.col("op"), "^check_and_put$", "put")
            ).withColumn(
                "op",
                F.regexp_replace(F.col("op"), "^check_and_delete$", "delete_column"),
            ),
            now_ms=now_ms,
        )
    return out
