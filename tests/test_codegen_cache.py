"""Spark's generated-code cache holds a re-run's whole working set.

A long-lived session re-runs the same plans (the consumer loop, every
streaming trigger, a dashboard's query rotation), so a re-run must reuse
the classes its first run compiled. Spark's default cache keeps only 100
entries, and the rotation below alone compiles about 245 classes in a
fresh JVM at sf0.001: at the default size its second rotation recompiled
200 of them.
"""

from __future__ import annotations

from streams_spark.plans.inspect import codegen_stats
from streams_spark.registry import load_all
from streams_spark.session import CODEGEN_CACHE_ENTRIES

# TPC-H, window, bitmap-aggregate, text and verb rows whose generated
# code depends neither on a per-run literal (the produce stamp inlines
# its timestamp) nor on AQE's runtime build-side choice (the dedup
# self-joins), so a warm re-run of each must compile nothing.
ROTATION = (
    "q9_profit_by_nation_year",
    "q2_min_cost_supplier",
    "q_window_frames",
    "q_bitmap_distinct",
    "t_contamination",
    "w_topk_suppliers_per_nation",
    "v_consume_segment",
    "w_sessionize",
)


def _rotation_compiles(spark, sf_dir: str) -> dict[str, int]:
    registry = load_all()
    compiles = {}
    for name in ROTATION:
        before, _ = codegen_stats(spark)
        registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        compiles[name] = codegen_stats(spark)[0] - before
    return compiles


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_second_rotation_compiles_nothing(spark, sf_dir):
    _rotation_compiles(spark, sf_dir)
    second = _rotation_compiles(spark, sf_dir)
    recompiled = {n: c for n, c in second.items() if c}
    assert not recompiled, f"re-run recompiled generated classes: {recompiled}"
