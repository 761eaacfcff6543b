"""Profile one registered query cold, then warm, in one session.

    python tools/profile_query.py NAME
    SPARK_GRAFT_SF_DIR=<scale-factor dir> python tools/profile_query.py NAME

The corpus is the one tools/audit_plans.py reads: SPARK_GRAFT_SF_DIR,
by default sf0.1.

Each run builds the query (`fn(spark, sf_dir)`: Python plus py4j plan
construction, and for `st_*` rows the stream run itself) and executes it
into the noop sink, as bench.py does. Per run it prints the build and
action wall seconds, the Spark jobs started, and the generated classes
compiled with their Janino time (`inspect.codegen_stats`). The cold run
is the session's first, so it pays plan resolution, codegen and
Python-worker start-up; the warm run shows what a re-run still pays.
On-disk staged feeds persist across processes, so they are warm in both.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.audit_plans import SF_DIR  # noqa: E402


def _jobs_started(spark) -> int:
    """Jobs the status store holds, stream-thread jobs included."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore().jobsList(None).size()


def profile_run(spark, fn, sf_dir: str) -> dict:
    from streams_spark.plans.inspect import codegen_stats

    jobs0 = _jobs_started(spark)
    compiles0, compile_ms0 = codegen_stats(spark)
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    compiles1, compile_ms1 = codegen_stats(spark)
    return {
        "build_s": t1 - t0,
        "action_s": t2 - t1,
        "jobs": _jobs_started(spark) - jobs0,
        "compiles": compiles1 - compiles0,
        "compile_ms": compile_ms1 - compile_ms0,
    }


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    name = argv[0]
    from streams_spark.registry import load_all
    from streams_spark.session import get_spark

    registry = load_all()
    if name not in registry:
        print(f"unknown query: {name}", file=sys.stderr)
        return 2
    spark = get_spark("profile-query")
    try:
        print(f"{name} at {SF_DIR}")
        for label in ("cold", "warm"):
            r = profile_run(spark, registry[name].fn, SF_DIR)
            print(
                f"{label}: build {r['build_s']:.3f} s  action {r['action_s']:.3f} s"
                f"  jobs {r['jobs']}  compiles {r['compiles']}"
                f" ({r['compile_ms']:.0f} ms)"
            )
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
