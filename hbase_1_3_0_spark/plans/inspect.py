"""Physical-plan inspection — the engine's self-check that the reference's
physical optimizations actually materialized in Catalyst (SURVEY.md §4).

HBase gets region pruning, HFile key-range/timerange pruning and blooms from
its storage engine; we get the analogs only if (a) the writer laid data out
range-partitioned and sorted and (b) the plan shows the predicates reaching
the parquet scan. These helpers read the executed plan so tests (and bench
reports) can ASSERT the plan shape instead of hoping:

- ``pushed_filters``: predicates that reached the parquet reader
  (region/HFile pruning + bloom analog — PushedFilters).
- ``exchange_count``: shuffles in the plan (each is a region-server
  round-trip analog; scans of clean logs must show 0).
- ``exchanges_run``: the exchanges an adaptive execution actually ran,
  subqueries included and reused exchanges counted once — where the
  planned text repeats a subtree that AQE computes once.
- ``codegen_stage_count`` / ``has_python_eval``: JVM whole-stage codegen
  coverage; Python eval nodes mark the slow path.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def _executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's parquet scans."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", _formatted(df)):
        entry = m.group(1).strip()
        if entry:
            out.extend(p.strip() for p in entry.split(","))
    return out


def pushes_down(df: DataFrame, column: str) -> bool:
    """True if any predicate on ``column`` reached a parquet scan."""
    return any(f"({column}," in p or f"({column})" in p for p in pushed_filters(df))


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle/broadcast exchanges in the executed plan."""
    return len(re.findall(r"\bExchange\b|\bBroadcastExchange\b", _executed_plan(df)))


def shuffle_exchange_count(df: DataFrame) -> int:
    """Shuffle (hash/range) exchanges only — broadcasts excluded."""
    plan = _executed_plan(df)
    return len(re.findall(r"\bExchange (hash|range|Single)", plan))


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def exchanges_run(df: DataFrame) -> list[str]:
    """Run ``df`` and return the output partitioning of every exchange its
    adaptive execution ran (``"broadcast"`` for a broadcast), sorted. Plans
    of scalar subqueries are walked too; an exchange AQE reused is listed
    once, where it ran."""
    df.collect()  # finalizes THIS QueryExecution's adaptive plan
    ran: dict[int, str] = {}

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if name in ("ShuffleQueryStageExec", "BroadcastQueryStageExec"):
            ex = node.plan()
            if ex.getClass().getSimpleName() == "ReusedExchangeExec":
                ex = ex.child()
            if ex.id() not in ran:
                ran[ex.id()] = (
                    "broadcast" if name.startswith("Broadcast")
                    else ex.outputPartitioning().toString()
                )
                walk(ex.child())
            return
        if name.endswith("QueryStageExec"):
            walk(node.plan())
            return
        for sub in _seq(node.subqueries()):
            walk(sub)
        for child in _seq(node.children()):
            walk(child)

    walk(df._jdf.queryExecution().executedPlan())
    return sorted(ran.values())


def codegen_stage_count(df: DataFrame) -> int:
    plan = _executed_plan(df)
    # rendered either as "WholeStageCodegen (n)" (tree form) or "*(n)" markers
    ids = re.findall(r"WholeStageCodegen \((\d+)\)", plan)
    ids += re.findall(r"\*\((\d+)\)", plan)
    return len(set(ids))


def has_python_eval(df: DataFrame) -> bool:
    """True if the plan leaves the JVM for row/batch Python evaluation.
    (ArrowEvalPython = pandas UDFs — intentional for multimodal/endpoints;
    BatchEvalPython = row-at-a-time Python UDFs — never acceptable.)"""
    return bool(re.search(r"BatchEvalPython|ArrowEvalPython|MapInPandas", _executed_plan(df)))


def scan_read_schema(df: DataFrame) -> list[str]:
    """Columns each parquet scan actually reads (column-pruning check)."""
    return re.findall(r"ReadSchema: struct<([^>]*)>", _formatted(df))

