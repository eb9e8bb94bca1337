"""Mutation operators: Put / Delete / Increment / Append / checkAndMutate.

Reference write path (SURVEY.md §3.3): client mutations flow through
HRegion.batchMutate (HRegion.java:2925) with row locks + MVCC sequence
numbers; read-modify-write ops (increment HRegion.java:7665, append :7383,
checkAndMutate :3493) read the current row view under the lock and apply.
Here too: every RMW op reads the table's read view through a ``view``
callable that :class:`~hbase_1_3_0_spark.table.Table` supplies
(``Table._rmw_view``), so family TTL, ``min_versions``,
KEEP_DELETED_CELLS and the table clock judge the current value exactly as
a Get would. Like the reference, which reads the row under its lock below
the coprocessor scan hooks, it applies no ``pre_scan``/``post_scan``
observers and no cell-security predicates.

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
for the session). Larger or computed mutation frames take the general
path: a broadcast semi join of the key set against the log, after which
only the touched rows are clustered by row (one exchange) for the read
view's window forms, so the 100 TB cell log is never shuffled to apply a
batch. Either way the pruning is :func:`read_view.prune_rows`, the one a
keyed Table read uses.

Driver lists enter as LocalRelations: every ``Table`` write entry that
takes a frame (put, delete, mutate_row, batch, check_and_mutate_row,
mutate_rows, put_wide, BufferedMutator.mutate) and :func:`small_key_frame`
pass it through :func:`driver_list`. For PySpark's own
``createDataFrame(list)`` lineage the driver already holds the rows, so
they are read there, with no Spark job — as the reference ships a client's
batch to the region server once, in one multi RPC — and rebuilt as a
LocalRelation, whatever the path: a plan over the batch then scans a local
table, where a Python-backed frame re-runs a Python worker on each of its
partitions for every leaf over it. The rows are read only where the
lineage is proven: a bare LogicalRDD over exactly one PythonRDD over a
ParallelCollectionRDD, flat-typed columns, no broadcast variable, and a
Python function that is PySpark's identity re-serialisation (compared by
code object with the installed ``RDD.map`` and ``RDD._reserialize``). A
``createDataFrame(sc.parallelize(rows).map(f))`` frame has the same JVM
chain; without the proof its rows would read as they were before ``f``.
The read stops, and the frame is kept as it is, once the pickled batches'
bytes pass ``spark.sql.autoBroadcastJoinThreshold`` (the bound the
small-key path applies; a disabled threshold disables both). Every other
driver frame (a projection or filter over the list, a plain or mapped RDD,
a timestamp or nested column, a pandas/Arrow local relation, Spark
Connect, any exception on the way) keeps its frame there;
:func:`small_key_frame` reads its rows with ``take(limit + 1)`` and rebuilds
a flat-typed one that takes the small-key path from those rows, as before.

Plan building: the CAS predicate (:data:`_CHECK_PASSES`) and the
mutation-to-cell projection are each one parsed SQL expression
(``selectExpr``/``F.expr``), as is the read view's ``max_by`` version
limit, not a composition of ``F.*`` calls, each of which is a py4j round
trip to the driver JVM — on a point op the round trips, not Catalyst,
were most of the build.
"""

from __future__ import annotations

from collections.abc import Callable

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
from hbase_1_3_0_spark.operators import security
from hbase_1_3_0_spark.operators.read_view import (
    broadcast_threshold,
    local_lookup,
    prune_rows,
    # not called (RMW ops read ``view``); perfbench/layers.py wraps it
    read_view,  # noqa: F401
    small_key_limit,
    small_key_set,
)

#: pruned cells (clustered by row, or pinned to one partition) -> the
#: visible cells an RMW op reads its current values from (Table._rmw_view)
View = Callable[[DataFrame], DataFrame]

#: optional per-cell tag columns (the reference's cell tags): a cell TTL,
#: a visibility expression and an ACL
TAG_COLUMNS = ("ttl_ms", security.VISIBILITY_COLUMN, security.ACL_COLUMN)

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
    """Append Put/tombstone cells to the log (Table.put, Table.java:227).
    Cell tags (:data:`TAG_COLUMNS`) travel with their cells: a tag the new
    cells carry is kept, and the log gains its column if it had none (null,
    i.e. untagged, on the older cells); a tag column of the log is null on
    new cells written without it."""
    tags = [c for c in TAG_COLUMNS if c in new_cells.columns]
    return cells.unionByName(
        new_cells.select(*CELL_COLUMNS, *tags), allowMissingColumns=True
    )


def mutations_to_cells(mutations: DataFrame, *, now_ms: int) -> DataFrame:
    """Typed mutation records (op/row/family/qualifier/ts/value/batch_seq) ->
    cells. Timestamp defaults to server now (Put.java:52 semantics); an op
    outside :data:`OP_TO_TYPE` gets a null type. One parsed projection: a
    py4j round trip, not one per column operator."""
    op_type = ", ".join(f"'{k}', {v}" for k, v in OP_TO_TYPE.items())
    return mutations.selectExpr(
        "`row`",
        "family",
        "qualifier",
        f"CAST(coalesce(ts, {int(now_ms)}) AS BIGINT) AS ts",
        f"CAST(map({op_type})[op] AS INT) AS type",
        "value",
        "CAST(coalesce(batch_seq, 0) AS BIGINT) AS seq",
    )


#: logical operators a driver-data mutation frame may carry above its
#: leaf relation and still count as driver data
_NARROW_NODES = frozenset({"Project", "Filter"})

#: column types a collect() + Arrow rebuild returns unchanged (a timestamp,
#: for one, comes back as a naive local-time datetime), and the only ones
#: whose rows are read from the driver without a job (:func:`driver_list`)
_FLAT_TYPES = (
    T.BinaryType, T.StringType, T.LongType, T.IntegerType, T.BooleanType
)


def _flat(schema: T.StructType) -> bool:
    return all(isinstance(f.dataType, _FLAT_TYPES) for f in schema)


def _driver_source(plan) -> tuple[bool, tuple | None]:
    """One walk of a mutation frame's plan (analyzed or optimized):
    ``(driver data, source)``. Driver data is a local relation or a
    one-to-one RDD chain down to a ParallelCollectionRDD, under
    projections and filters only.
    ``source`` is the ``(PythonRDD, ParallelCollectionRDD)`` pair when the
    plan is a bare LogicalRDD whose chain holds exactly one PythonRDD,
    directly above the ParallelCollectionRDD — the JVM chain
    ``createDataFrame(list)`` builds (the other links are the JVM's own
    pickle-to-row conversions); otherwise None."""
    bare = True
    while (name := plan.getClass().getSimpleName()) in _NARROW_NODES:
        plan, bare = plan.child(), False
    if name == "LocalRelation":
        return True, None
    if name != "LogicalRDD":
        return False, None
    chain = [plan.rdd()]
    kinds = [chain[0].getClass().getSimpleName()]
    while kinds[-1] != "ParallelCollectionRDD":
        deps = chain[-1].dependencies()
        if deps.size() != 1:
            return False, None
        dep = deps.head()
        if dep.getClass().getSimpleName() != "OneToOneDependency":
            return False, None
        chain.append(dep.rdd())
        kinds.append(chain[-1].getClass().getSimpleName())
    if bare and kinds.count("PythonRDD") == 1 and kinds[-2:-1] == ["PythonRDD"]:
        return True, (chain[-2], chain[-1])
    return True, None


def _private(obj, name: str):
    """A private field of a JVM object, read by reflection."""
    field = obj.getClass().getDeclaredField(name)
    field.setAccessible(True)
    return field.get(obj)


def _nested_code(fn, name: str):
    """The code object of the function ``name`` defined inside ``fn``."""
    return next(
        c for c in fn.__code__.co_consts if getattr(c, "co_name", None) == name
    )


def _batch_loader(python_rdd) -> Callable[[bytes], object] | None:
    """The loader of the pickled row batches under ``python_rdd`` when its
    function is PySpark's identity re-serialisation
    (``RDD._reserialize``): ``RDD.map``'s inner ``func``, whose one closure
    cell is ``_reserialize``'s ``lambda x: x``, reading plain pickle
    batches and using no broadcast variable; else None. Without this
    proof a ``createDataFrame(sc.parallelize(rows).map(f))`` frame, whose
    JVM chain is the same, would read as its rows before ``f``."""
    from pyspark.core.rdd import RDD
    from pyspark.serializers import (
        BatchedSerializer,
        CloudPickleSerializer,
        PickleSerializer,
    )

    function = _private(python_rdd, "func")
    if not function.broadcastVars().isEmpty():
        return None
    command = CloudPickleSerializer().loads(function.command().unsafeArray())
    func, _profiler, batches, _out = command
    cells = getattr(func, "__closure__", None) or ()
    if not (
        getattr(func, "__code__", None) == _nested_code(RDD.map, "func")
        and len(cells) == 1
        and getattr(cells[0].cell_contents, "__code__", None)
        == _nested_code(RDD._reserialize, "<lambda>")
        and type(batches) is BatchedSerializer
        and type(batches.serializer) in (PickleSerializer, CloudPickleSerializer)
    ):
        return None
    return batches.serializer.loads


def _list_rows(source: tuple, schema: T.StructType, max_bytes: int) -> list | None:
    """Every row of a proven ``createDataFrame(list)`` frame
    (:func:`_driver_source`), read on the driver without a job: the
    ParallelCollectionRDD holds the list as pickled batches of the rows'
    internal form (its ``data``, which its partitions slice in order; read
    whole, the round trips do not grow with the partition count). None
    once the batches' bytes pass ``max_bytes`` (so a negative bound reads
    nothing), when the function is not the identity
    (:func:`_batch_loader`), or when anything fails. The caller has
    checked that every column is flat-typed (:data:`_FLAT_TYPES`)."""
    python_rdd, parallel = source
    try:
        load = _batch_loader(python_rdd)
        if load is None:
            return None
        data = _private(parallel, "data")
        rows: list = []
        size = 0
        for i in range(data.length()):
            blob = data.apply(i)
            size += len(blob)
            if size > max_bytes:
                return None
            batch = load(blob)
            if type(batch) is not list:
                return None
            rows += map(schema.fromInternal, batch)
        return rows if size <= max_bytes else None
    except Exception:
        return None


def local_relation(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """``rows`` as a LocalRelation: one Arrow batch handed to the JVM, so
    plans over it run no Python worker and no job (a
    ``createDataFrame(list)`` frame re-runs a Python worker on each of its
    partitions for every plan leaf over it, on every action)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def driver_list(frame: DataFrame) -> tuple[DataFrame, list | None]:
    """The one entry rule for driver-list frames: every ``Table`` write
    entry that takes a frame, and :func:`small_key_frame`, pass it here.

    When ``frame`` is a proven ``createDataFrame(list)`` of flat-typed
    columns (:func:`_driver_source`, :func:`_batch_loader`), all its pickled
    batches are read on the driver, with no job, and ``(LocalRelation,
    rows)`` is returned (:func:`local_relation`): the write path's plans
    then scan a local table instead of re-running a Python worker on each
    partition for every leaf over the list — the reference ships a
    client's batch to the server once. Otherwise ``(frame, None)``: any
    other frame, and a list whose batches' bytes pass
    read_view.broadcast_threshold (the bound small_key_set applies; a
    disabled threshold disables the rebuild). The proof walks the
    analyzed plan, which every frame already holds, so any other frame
    costs a few py4j calls and no optimization."""
    _driver, source = _driver_source(frame._jdf.queryExecution().analyzed())
    if source is None:
        return frame, None
    schema = frame.schema
    if not _flat(schema):
        return frame, None
    spark = frame.sparkSession
    rows = _list_rows(source, schema, broadcast_threshold(spark))
    if rows is None:
        return frame, None
    return local_relation(spark, rows, schema), rows


def small_key_frame(frame: DataFrame) -> tuple[DataFrame, list[bytes] | None]:
    """The small-key path's engagement rule for a mutation frame.

    Engages when the frame is driver data — its optimized plan is a local
    relation or a parallelized driver list, under projections and filters
    only — of at most read_view.small_key_limit rows, and its row-key set
    passes read_view.small_key_set. Returns ``(one-partition frame,
    keys)``; otherwise ``(frame, None)``, and the general path runs.

    The frame enters through :func:`driver_list` first, so a proven
    ``createDataFrame(list)`` of flat-typed columns is decided from the
    rows that rebuild already read, with no job, and comes back as its
    LocalRelation on either path. Every other driver frame reads its rows
    with ``take(limit + 1)``: a projection or filter over the list, a
    mapped or plain RDD, a timestamp or nested column, a pandas/Arrow
    local relation, a list past the byte bound, a broadcast command, Spark
    Connect, or any exception on the way; a flat-typed one that passes is
    rebuilt from those rows as a LocalRelation. A disabled broadcast
    threshold turns the path off before any row is read."""
    spark = frame.sparkSession
    if broadcast_threshold(spark) < 0:
        return frame, None
    limit = small_key_limit(spark)
    frame, rows = driver_list(frame)
    rebuild = False
    if rows is None:
        plan = frame._jdf.queryExecution().optimizedPlan()
        if not _driver_source(plan)[0]:
            return frame, None
        rows = frame.take(limit + 1)
        rebuild = (
            plan.getClass().getSimpleName() != "LocalRelation" and _flat(frame.schema)
        )
    if len(rows) > limit:
        return frame, None
    keys = small_key_set(spark, (r["row"] for r in rows))
    if keys is None:
        return frame, None
    if rebuild:
        frame = local_relation(spark, rows, frame.schema)
    return frame.coalesce(1), keys


def _delta_once(delta: DataFrame) -> DataFrame:
    """Compute a small-key RMW delta once: a lazy local checkpoint, so the
    returned verdicts or results and the next Table's cells share one
    computation and chained plans start from this leaf."""
    return delta.localCheckpoint(eager=False)


#: the key an RMW op reads its current values by
_KEY = ["row", "family", "_qnull", "_qkey"]


def _column_key(qualifier: str = "qualifier") -> list[Column]:
    """A column's qualifier as two never-null join keys, ``_qnull`` and
    ``_qkey``. HBase's NULL qualifier is a real column (TestFromClientSide
    testNull:1391), which an equi-join on the qualifier never matches; on
    these keys it matches itself, and the fold, the lookup and the join
    share one partitioning."""
    return [
        F.col(qualifier).isNull().alias("_qnull"),
        F.coalesce(F.col(qualifier), F.lit(b"")).alias("_qkey"),
    ]


def _qualifier() -> Column:
    """The qualifier back from its :func:`_column_key` columns."""
    return F.when(~F.col("_qnull"), F.col("_qkey")).alias("qualifier")


def _attach(left: DataFrame, cur: DataFrame, on: list[str], pinned: bool) -> DataFrame:
    """Left-join the current values onto the mutation records: a window
    lookup on the small-key path, a plain join (AQE broadcasts ``cur``)
    otherwise."""
    return local_lookup(left, cur, on) if pinned else left.join(cur, on, "left")


def _current_values(
    cells: DataFrame,
    keys: DataFrame,
    view: View,
    pinned: list[bytes] | None = None,
) -> DataFrame:
    """Latest visible value for each (row,family,qualifier) in ``keys``.

    The key set is tiny relative to the log: ``pinned`` (the small-key
    path) prunes the log to those rows in the scan, in one partition;
    otherwise a broadcast semi-join keeps only the touched rows, which are
    then clustered by row once. Either way ``view`` runs the read view on
    its exchange-free window forms. The values come keyed by ``_KEY``.
    """
    touched = prune_rows(
        cells, pinned if pinned is not None else keys.select("row").distinct()
    )
    return view(touched).select(
        "row", "family", *_column_key(), F.col("value").alias("_cur")
    )


def increment(
    cells: DataFrame,
    increments: DataFrame,
    *,
    view: View,
    now_ms: int,
    codec: str = "be8",
    batch_seq: int = 0,
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
    callers porting a reference Increment should pre-dedup its columns.
    ``view`` reads the current values; an Increment.setTimeRange
    (Increment.java:158) is its scan time range, so a current version
    outside the range reads as absent and the counter re-initializes to
    the delta. Returns (new_cells, results) — results mirror
    setReturnResults (Increment.java:169) with the post-increment value.
    """
    increments, pinned = small_key_frame(increments)
    local = pinned is not None
    folded = increments.groupBy("row", "family", *_column_key()).agg(
        F.sum("delta").alias("_delta")
    )
    cur = _current_values(cells, folded, view, pinned)
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
    new_vals = _attach(folded, cur, _KEY, local).select(
        "row", "family", _qualifier(), new_value.alias("new_value")
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
    view: View,
    now_ms: int,
    batch_seq: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Atomic byte-concatenation (Table.append, Table.java:354; server
    HRegion.append:7383). ``appends``: row, family, qualifier, value,
    batch_seq — multiple appends to one key concatenate in batch_seq order
    (within-batch ordering determinism, SURVEY.md §7 watch-list #4).
    ``view`` reads the current values; its scan time range bounds the
    read-back (Append inherits Mutation's time range, as
    Increment.java:158 does for Increment)."""
    appends, pinned = small_key_frame(appends)
    local = pinned is not None
    folded = appends.groupBy("row", "family", *_column_key()).agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("batch_seq"), F.col("value")))
            ),
            F.lit(b""),
            lambda acc, x: F.concat(acc, x["value"]),
        ).alias("_suffix")
    )
    cur = _current_values(cells, folded, view, pinned)
    new_vals = _attach(folded, cur, _KEY, local).select(
        "row",
        "family",
        _qualifier(),
        F.concat(
            F.coalesce(F.col("_cur"), F.lit(b"")), F.col("_suffix")
        ).alias("new_value"),
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


#: CompareOp predicate for CAS (Table.checkAndPut, Table.java:257), over
#: a judged record's ``check_op``, ``check_value`` (expected) and ``_cur``
#: (the current value). One parsed SQL expression: one py4j round trip.
#:
#: DIRECTION (fixed r11 — found by the TestFromClientSide
#: testCheckAndPutWithCompareOp battery): the reference computes
#: ``compareResult = comparator(EXPECTED).compareTo(cellValue)`` and
#: matches ``compareResult <op> 0`` (HRegion.checkAndMutate:3549-3573),
#: i.e. the check passes iff ``expected <op> cellValue`` — with cell
#: "bbbb", a LESS check against "aaaa" MATCHES (aaaa < bbbb). Note this
#: is the opposite operand order from the filter algebra's CompareFilter
#: convention.
#:
#: A null expected value means "column must not exist"; an existing
#: ZERO-LENGTH value also matches a null expected value
#: (HRegion.checkAndMutate treats getValueLength()==0 as absent).
_CHECK_PASSES = (
    "(check_value IS NULL AND (_cur IS NULL OR length(_cur) = 0))"
    " OR coalesce(CASE check_op"
    " WHEN 'LESS' THEN check_value < _cur"
    " WHEN 'LESS_OR_EQUAL' THEN check_value <= _cur"
    " WHEN 'EQUAL' THEN check_value = _cur"
    " WHEN 'NOT_EQUAL' THEN check_value <> _cur"
    " WHEN 'GREATER_OR_EQUAL' THEN check_value >= _cur"
    " WHEN 'GREATER' THEN check_value > _cur"
    " ELSE false END, false)"
)


def _judge_checks(
    cells: DataFrame,
    checks: DataFrame,
    view: View,
    pinned: list[bytes] | None = None,
) -> DataFrame:
    """Shared CAS judging: attach the pre-batch current value of each
    record's checked column and evaluate its CompareOp predicate into a
    ``_pass`` column. ``checks`` carries row, check_family,
    check_qualifier, check_op, check_value (+ any payload columns, which
    pass through untouched). ``pinned``: the small-key path's keys, with
    ``checks`` already in one partition."""
    cur = _current_values(cells, checks, view, pinned).withColumnRenamed(
        "family", "check_family"
    )
    return (
        _attach(
            checks.select("*", *_column_key("check_qualifier")),
            cur,
            ["row", "check_family", "_qnull", "_qkey"],
            pinned is not None,
        )
        .drop("_qnull", "_qkey")
        .withColumn("_pass", F.expr(_CHECK_PASSES))
    )


def check_and_mutate(
    cells: DataFrame,
    mutations: DataFrame,
    *,
    view: View,
    now_ms: int,
) -> tuple[DataFrame, DataFrame]:
    """Single-row CAS, batch form (HRegion.checkAndMutate, HRegion.java:3493).

    ``mutations``: op, row, family, qualifier, ts, value, check_family,
    check_qualifier, check_op, check_value, batch_seq. The predicate is
    evaluated against the PRE-batch read view (F5 invariant); passing
    mutations apply as cells. Returns (new_cells, per-mutation verdicts).
    """
    mutations, pinned = small_key_frame(mutations)
    judged = _judge_checks(cells, mutations, view, pinned)
    if pinned is not None:
        judged = _delta_once(judged)
    new_cells = mutations_to_cells(judged.where("_pass"), now_ms=now_ms)
    verdicts = judged.select(
        "row", "family", "qualifier", "op", F.col("_pass").alias("applied")
    )
    return put_cells(cells, new_cells), verdicts


def check_and_mutate_row(
    cells: DataFrame,
    groups: DataFrame,
    mutations: DataFrame,
    *,
    view: View,
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
    judged = _judge_checks(cells, groups, view)
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
    view: View,
    now_ms: int,
    codec: str = "be8",
) -> DataFrame:
    """Mixed batch (Table.batch, Table.java:119): route by op kind, one pass
    per kind, single logical commit (AsyncProcess per-server grouping
    replaced by Spark job scheduling, AsyncProcess.java:101).

    Routing is decided from ONE tiny aggregation over the op column (not one
    ``isEmpty()`` action per kind): a single driver pass before the commit
    job regardless of how many op kinds the batch mixes. Each RMW kind
    reads ``view`` over the log as the batch's earlier kinds left it. The
    same pass returns the batch's ``batch_seq`` range; the increment
    cells, then the append cells, then the CAS cells (in their records'
    order) are written above its top, so each kind's cells read as newer
    than those of the kinds before it (at the same server timestamp), as
    the RMW op read them."""
    routed = (
        mutations.groupBy("op")
        .agg(
            F.expr("min(coalesce(batch_seq, 0))"),
            F.expr("max(coalesce(batch_seq, 0))"),
        )
        .collect()
    )
    present = {r[0] for r in routed}
    low = min((r[1] for r in routed), default=0)
    seq = max((r[2] for r in routed), default=0)
    out = cells
    if present & set(OP_TO_TYPE.keys()):
        plain = mutations.where(F.col("op").isin(*OP_TO_TYPE.keys()))
        out = put_cells(out, mutations_to_cells(plain, now_ms=now_ms))
    if "increment" in present:
        seq += 1
        incs = mutations.where(F.col("op") == "increment")
        out, _ = increment(
            out,
            incs.select(
                "row", "family", "qualifier", _decode(F.col("value"), codec).alias("delta")
            ),
            view=view,
            now_ms=now_ms,
            codec=codec,
            batch_seq=seq,
        )
    if "append" in present:
        seq += 1
        apps = mutations.where(F.col("op") == "append")
        out, _ = append_value(
            out,
            apps.select("row", "family", "qualifier", "value", "batch_seq"),
            view=view,
            now_ms=now_ms,
            batch_seq=seq,
        )
    if any(op.startswith("check_and_") for op in present):
        cas = mutations.where(F.col("op").startswith("check_and_")).withColumn(
            "batch_seq", F.expr(f"coalesce(batch_seq, 0) + {seq + 1 - low}")
        )
        out, _ = check_and_mutate(
            out,
            cas.withColumn(
                "op", F.regexp_replace(F.col("op"), "^check_and_put$", "put")
            ).withColumn(
                "op",
                F.regexp_replace(F.col("op"), "^check_and_delete$", "delete_column"),
            ),
            view=view,
            now_ms=now_ms,
        )
    return out
