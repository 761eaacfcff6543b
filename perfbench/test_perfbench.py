"""The benchmark's own checks, without a Spark session:

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import check, gen, run, workloads  # noqa: E402
from perfbench.trace import Span, Tracer, python_worker_ms  # noqa: E402


def test_generator_is_seeded():
    a, b, c = gen.tables(7, 0.05), gen.tables(7, 0.05), gen.tables(8, 0.05)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert set(a) == set(check.TABLES)


def _q1_context(tmp_path):
    from streams_spark.registry import load_all
    from tools.check_oracle import compare

    sf_dir = str(tmp_path / "data")
    gen.write(sf_dir, 3, 0.05)
    registry = load_all()
    ctx = type("Ctx", (), {})()
    ctx.registry, ctx.compare, ctx.oracle = registry, compare, check.Oracle(sf_dir)
    name = "q1_pricing_summary"
    truth = ctx.oracle.con.sql(registry[name].oracle).arrow()
    return ctx, name, truth


def test_dropped_result_row_raises_error_rate(tmp_path):
    ctx, name, truth = _q1_context(tmp_path)
    ops = [
        workloads.Op(name, 0.1, truth),
        workloads.Op(name, 0.1, truth.slice(1)),  # one row dropped
    ]
    workloads.score_queries(ctx, ops)
    assert [op.failed for op in ops] == [False, True]
    assert run.tally(ops, []) == (2, 1)


def test_exception_counts_as_failed_op():
    ops = [workloads.Op("q", 0.1, None, error="boom")]
    assert run.tally(ops, []) == (1, 1)


def _chunk():
    expect = {("s0", "g0", 1), ("s0", "g0", 2), ("s1", "g0", 1)}
    return expect, sorted(expect), [("s0", "g0", 1), ("s0", "g0", 2)]


def test_exact_delivery_passes():
    expect, delivered, read = _chunk()
    assert check.chunk_problems(expect, 3, delivered, "s0", read, 2, 2) == []


def test_duplicated_delivery_raises_error_rate():
    expect, delivered, read = _chunk()
    problems = check.chunk_problems(
        expect, 3, delivered + delivered[:1], "s0", read, 2, 2
    )
    assert problems
    op = workloads.Op("chunk", 1.0, problems=problems)
    assert run.tally([op], []) == (1, 1)
    assert check.ingest_problems(
        [("s0", "g0", 0)], 3, 3, delivered + delivered[:1],
        {("s0", "g0"): 2}, {("s0", "g0"): 2},
    )


@pytest.mark.parametrize(
    "bad",
    [
        dict(committed=2),
        dict(delivered=[("s0", "g0", 1)]),
        dict(read=[("s0", "g0", 1)]),
        dict(peeked=1),
    ],
)
def test_each_chunk_invariant_is_checked(bad):
    expect, delivered, read = _chunk()
    args = dict(committed=3, delivered=delivered, read=read, peeked=2)
    args.update(bad)
    assert check.chunk_problems(
        expect, args["committed"], args["delivered"], "s0", args["read"],
        args["peeked"], 2,
    )


def test_sequence_violation_and_lost_records_fail_the_run():
    keys = [("s0", "g0", 1), ("s0", "g0", 2)]
    tails = {("s0", "g0"): 2}
    assert check.ingest_problems([("s0", "g0", 0)], 2, 2, keys, tails, tails) == []
    assert check.ingest_problems([("s0", "g0", 1)], 2, 2, keys, tails, tails)
    assert check.ingest_problems([("s0", "g0", 0)], 2, 1, keys, tails, tails)
    assert check.ingest_problems([("s0", "g0", 0)], 2, 2, keys, tails, {("s0", "g0"): 1})


def test_python_worker_metric_parse():
    assert python_worker_ms("9 ms") == 9.0
    assert python_worker_ms(
        "total (min, med, max (stageId: taskId))\n7.4 s (1.8 s, 1.9 s, 1.9 s (stage 4.0: task 4))"
    ) == pytest.approx(7400.0)


def test_self_times_reconcile_with_root():
    t = Tracer(spark=None)
    t.spans = [
        Span("op", 0.0, 1.0, None, 1, 0),
        Span("operators.build", 0.0, 0.3, 0, 1, 1),
        Span("sources.parquet_read", 0.1, 0.2, 1, 1, 2),
        Span("exec.action", 0.4, 0.9, 0, 1, 3),
    ]
    selfs = t.self_times(1)
    assert sum(selfs.values()) == pytest.approx(1.0)
    assert selfs["operators.build"] == pytest.approx(0.2)
    assert selfs["op"] == pytest.approx(0.2)


def test_arrow_timestamps_become_naive_utc():
    tbl = pa.table({"ts": pa.array([0], pa.timestamp("us", tz="UTC"))})
    df = check.arrow_to_pandas(tbl)
    assert df["ts"].dt.tz is None


def test_end_to_end_metrics_cover_the_whole_window():
    def op(name, wall, cpu):
        o = workloads.Op(name, wall)
        o.cpu_s = cpu
        return o

    ops = [op("a", 1.0, 2.0), op("a", 3.0, 2.0), op("a", 2.0, 2.0),
           op("b", 4.0, 6.0), op("b", 8.0, 6.0), op("b", 8.0, 6.0)]
    m = run.end_to_end(ops, window_s=30.0)
    # row medians 2 and 8: geometric mean 4
    assert m["op_p50_s"] == (pytest.approx(4.0), "s")
    assert m["ops_per_s"] == (pytest.approx(0.2), "1/s")
    assert m["cpu_s_per_op"] == (pytest.approx(4.0), "s")
