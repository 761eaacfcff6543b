"""Physical-plan introspection helpers.

Used by tools/audit_plans.py (PLANS.md generation) and by tests that
assert plan shapes (no-shuffle bucketed joins, partition pruning). The
plan helpers are engine-agnostic: they work off `df.explain("formatted")`
text, so they need no private Spark APIs. `codegen_stats` is the one
exception: it reads the driver JVM's codegen counters.
"""

from __future__ import annotations

import contextlib
import io
import re
from collections import Counter

from pyspark.sql import DataFrame, SparkSession

PYTHON_STAGES = (
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
)


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def extended_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(True)
    return buf.getvalue()


def physical_section(df: DataFrame) -> str:
    return extended_plan(df).split("== Physical Plan ==")[-1]


def operator_counts(df: DataFrame) -> Counter:
    """Counts of physical operators in the (pre-AQE) formatted plan."""
    plan = formatted_plan(df)
    return Counter(k for _, k in re.findall(r"\((\d+)\) (\w+)", plan))


def pushed_filters(df: DataFrame) -> list[str]:
    """Non-trivial filters that reached a Parquet scan."""
    plan = formatted_plan(df)
    groups = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    return sorted(
        {
            p.strip().split("(")[0]
            for g in groups
            for p in g.split(",")
            if p.strip() and not p.strip().startswith("IsNotNull")
        }
    )


def partition_filters(df: DataFrame) -> list[str]:
    plan = extended_plan(df)
    return [l.strip() for l in plan.splitlines() if "PartitionFilters" in l]


def python_stage_count(df: DataFrame) -> int:
    c = operator_counts(df)
    return sum(c.get(k, 0) for k in PYTHON_STAGES)


def assert_no_shuffle(df: DataFrame) -> None:
    plan = physical_section(df)
    assert "Exchange" not in plan, f"unexpected Exchange in plan:\n{plan}"


def aqe_final_summary(df: DataFrame) -> dict[str, int]:
    """Execute the DataFrame and summarize its AQE FINAL plan: shuffles
    that actually ran, AQE coalesced reads, and join strategies. Reads
    the SAME QueryExecution the action ran (executedPlan), so the
    numbers reflect runtime re-planning, not the static estimate —
    call only on queries with driver-sized results."""
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    return {
        "is_final": int("isFinalPlan=true" in final),
        # distinct shuffle stages that actually ran (reuse not re-counted)
        "shuffle_stages": len(
            set(re.findall(r"ShuffleQueryStage (\d+)", final))
        ),
        "reused": len(re.findall(r"ReusedExchange", final)),
        "coalesced": len(re.findall(r"AQEShuffleRead coalesced", final)),
        "bhj": len(re.findall(r"BroadcastHashJoin", final)),
        "smj": len(re.findall(r"SortMergeJoin", final)),
        "shj": len(re.findall(r"ShuffledHashJoin", final)),
    }


def codegen_stats(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, compile ms) by this JVM since it started.

    The count is Spark's `CodegenMetrics` compilation-time histogram,
    which gains one sample per Janino compile, that is per miss of the
    generated-class cache. The time is `CodeGenerator.compileTime`, the
    exact nanosecond sum behind that histogram (its snapshot is a
    sample). Both are JVM-wide and only grow: diff two readings to
    charge a span of work. Executors in other JVMs are not counted, so
    on a cluster this sees driver-side compiles only."""
    jvm = spark.sparkContext._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(count), nanos / 1e6
