"""Full-output materialization and executed-plan inspection.

`materialize` times one layer on its own: it folds every output column of
a DataFrame into a row count and a bit_xor of xxhash64 over all columns,
so Catalyst cannot prune any column — unlike `count()`, which drops the
render UDFs and the record packing. After an action the executed adaptive
plan is walked over py4j for exact node metrics, and `guard_not_pruned`
checks that a timed plan kept every Python node of extract()'s full plan.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class PrunedPlanError(RuntimeError):
    """The timed plan runs fewer Python nodes than extract()'s full plan."""


@dataclass
class Materialized:
    seconds: float
    rows: int
    extra: dict = field(default_factory=dict)
    plan: object = None  # executed SparkPlan (py4j handle)


def materialize(df: DataFrame, **extra_aggs) -> Materialized:
    """Compute every column of `df` once; return timing and row count,
    plus any `extra_aggs` (name -> aggregate Column)."""
    cols = [F.col(c) for c in df.columns]
    action = df.select(
        F.count(F.lit(1)).alias("__rows"),
        F.bit_xor(F.xxhash64(*cols)).alias("__xor"),
        *[agg.alias(name) for name, agg in extra_aggs.items()],
    )
    t0 = time.perf_counter()
    row = action.collect()[0].asDict()
    seconds = time.perf_counter() - t0
    return Materialized(
        seconds=seconds,
        rows=int(row.pop("__rows", 0) or 0),
        extra={k: v for k, v in row.items() if k != "__xor"},
        plan=action._jdf.queryExecution().executedPlan(),
    )


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def walk(plan, follow_reused: bool = False, initial: bool = False):
    """Yield every physical node under `plan`, through adaptive wrappers and
    query stages. Reused exchanges are leaves unless `follow_reused` (node
    counting) — following them would count shared metrics twice. With
    `initial`, an adaptive plan is walked as planned, before AQE re-planned
    it at run time."""
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.initialPlan() if initial else node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls == "ReusedExchangeExec":
            yield node
            if follow_reused:
                stack.append(node.child())
        else:
            yield node
            stack.extend(_seq(node.children()))


def is_python_node(node) -> bool:
    cls = node.getClass().getSimpleName()
    return cls.endswith("PythonExec") or "InPandas" in cls or "InArrow" in cls


def python_node_count(plan) -> int:
    """Python nodes Catalyst planned. AQE may drop a branch at run time
    when its input turns out empty (extract_web); that is not pruning."""
    return sum(1 for n in walk(plan, follow_reused=True, initial=True) if is_python_node(n))


def expected_python_nodes(df: DataFrame) -> int:
    """Python nodes in the (unexecuted) physical plan of `df` itself."""
    return python_node_count(df._jdf.queryExecution().executedPlan())


def guard_not_pruned(executed_plan, expected: int) -> None:
    got = python_node_count(executed_plan)
    if got < expected:
        raise PrunedPlanError(
            f"timed plan ran {got} Python nodes, extract()'s full plan has {expected}"
        )


def _metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


SPARK_COUNTERS = (
    "spark.python_nodes",
    "spark.python_rows_returned",
    "spark.python_bytes_sent",
    "spark.python_bytes_returned",
    "spark.python_exec_s",
    "spark.python_boot_s",
    "spark.python_init_s",
    "spark.shuffle_bytes_total",
    "spark.shuffle_records_total",
    "spark.agg_sort_fallbacks",
)


def spark_counters(plan) -> dict:
    """Sums of Spark's own SQL metrics over one executed plan."""
    out = dict.fromkeys(SPARK_COUNTERS, 0)
    for node in walk(plan):
        m = _metrics(node)
        if is_python_node(node):
            out["spark.python_nodes"] += 1
            out["spark.python_rows_returned"] += m.get("pythonNumRowsReceived", 0)
            out["spark.python_bytes_sent"] += m.get("pythonDataSent", 0)
            out["spark.python_bytes_returned"] += m.get("pythonDataReceived", 0)
            out["spark.python_exec_s"] += m.get("pythonTotalTime", 0) / 1e3
            out["spark.python_boot_s"] += m.get("pythonBootTime", 0) / 1e3
            out["spark.python_init_s"] += m.get("pythonInitTime", 0) / 1e3
        out["spark.shuffle_bytes_total"] += m.get("shuffleBytesWritten", 0)
        out["spark.shuffle_records_total"] += m.get("shuffleRecordsWritten", 0)
        out["spark.agg_sort_fallbacks"] += m.get("numTasksFallBacked", 0)
    return out


def repartition_totals(plan) -> tuple[int, int]:
    """(bytes, records) written by explicit `repartition(n, ...)` exchanges
    — the url salt — leaving out exchanges the planner adds on its own."""
    b = r = 0
    for node in walk(plan):
        if node.getClass().getSimpleName() == "ShuffleExchangeExec" and (
            node.shuffleOrigin().toString() == "REPARTITION_BY_NUM"
        ):
            m = _metrics(node)
            b += m.get("shuffleBytesWritten", 0)
            r += m.get("shuffleRecordsWritten", 0)
    return b, r


def scan_bytes(plan) -> int:
    return sum(_metrics(n).get("filesSize", 0) for n in walk(plan))
