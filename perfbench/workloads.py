"""The two closed-loop workloads: one client, one op at a time.

query_mix: an op is one registered query, `fn(spark, sf_dir)` plus an
Arrow collect of its result. Each pass runs every row once, in a
seed-shuffled order; the timed window ends at the first pass boundary
after `seconds`, so every row is sampled equally often (traced runs:
after at least one untraced and one traced pass).

ingest_tail: an op is one chunk: peek_all tails + client.produce (the
commit), ConsumerContext.consume_available (the delivery), then a peek
of the hottest segment and a consume_space resumed from the reader's
last offset (the read).
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from perfbench import check
from perfbench.procstat import mark

# Rows of bench.HEADLINE each query workload runs (see README.md for
# why these and not all 49).
QUERY_ROWS = [
    "q9_profit_by_nation_year",
    "d_ngram_jaccard_prefix",
    "d_transitive_containment",
    "st_cdc_apply",
    "m_jpeg_progressive",
    "m_h264_gop",
]

SPACES = ["space0", "space1", "space2"]
SEGMENTS_PER_SPACE = 16
CHUNK_RECORDS = 2000
SETUP_CHUNKS = 4
ZIPF_S = 1.2


@dataclass
class Op:
    name: str
    wall_s: float
    result: object = None
    error: str | None = None
    problems: list[str] = field(default_factory=list)
    traced: bool = False
    op_id: int = 0
    cpu_s: float = 0.0
    phases: dict[str, float] = field(default_factory=dict)

    @property
    def failed(self) -> bool:
        return self.error is not None or bool(self.problems)


@dataclass
class Outcome:
    setup_s: float
    window_s: float
    ops: list[Op]
    extra_failures: list[str] = field(default_factory=list)
    files_per_space: float = 0.0


def _report_error(name: str) -> str:
    tb = traceback.format_exc()
    print(f"op {name} failed:\n{tb}", file=sys.stderr)
    return tb.strip().splitlines()[-1]


# ---------------------------------------------------------------------------
# query workloads
# ---------------------------------------------------------------------------


def run_query(ctx, name: str, traced: bool) -> Op:
    tracer = ctx.tracer
    tracer.active = traced
    ctx.op_id += 1
    tracer.begin_op(ctx.op_id, name)
    t0 = time.perf_counter()
    result = error = None
    try:
        with tracer.span("op"):
            with tracer.span("operators.build"):
                df = ctx.registry[name].fn(ctx.spark, ctx.sf_dir)
            with tracer.span("exec.action"):
                result = df.toArrow()
    except Exception:  # one failed op must not end the run
        error = _report_error(name)
    wall = time.perf_counter() - t0
    tracer.end_op(wall)
    tracer.active = False
    return Op(name, wall, result, error, traced=traced, op_id=ctx.op_id)


def with_cpu(ctx, fn, *args) -> Op:
    """Run one op and charge it the process tree's CPU seconds."""
    c0 = ctx.sampler.cpu()
    op = fn(*args)
    op.cpu_s = ctx.sampler.cpu() - c0
    return op


def query_workload(ctx, names: list[str], seconds: float, trace: bool) -> Outcome:
    rng = random.Random(ctx.seed)
    # set-up: one untimed pass (staged-feed builds, codegen, Python
    # workers, the program's own memos, the first JIT tiers)
    for name in names:
        run_query(ctx, name, traced=trace)
    setup_s = time.perf_counter() - ctx.t_setup
    mark("set-up done")

    ops: list[Op] = []
    t0 = time.perf_counter()
    n_pass = 0
    while True:
        order = names[:]
        rng.shuffle(order)
        # traced runs alternate untraced and traced whole passes, so the
        # same run measures the tracing overhead on the same rows
        traced = trace and n_pass % 2 == 1
        ops.extend(with_cpu(ctx, run_query, ctx, name, traced) for name in order)
        n_pass += 1
        if time.perf_counter() - t0 >= seconds and (not trace or n_pass >= 2):
            break
    window = time.perf_counter() - t0
    mark("window done")
    score_queries(ctx, ops)
    return Outcome(setup_s, window, ops)


def score_queries(ctx, ops: list[Op]) -> None:
    """Outside the timed window: every result against its oracle."""
    for op in ops:
        if op.error is not None:
            continue
        sdf = check.arrow_to_pandas(op.result)
        op.result = None
        spec = ctx.registry[op.name]
        if spec.oracle is None:
            op.problems = [f"{op.name} has no oracle"]
        else:
            op.problems = ctx.compare(op.name, sdf, ctx.oracle.result(op.name, spec.oracle))


# ---------------------------------------------------------------------------
# ingest workload
# ---------------------------------------------------------------------------


class ChunkGenerator:
    """Seeded chunks over SPACES x SEGMENTS_PER_SPACE segments: the
    segment of each record is Zipf-skewed, payload sizes log-normal, and
    sequences continue each segment's gapless count.

    Zipf ranks go round-robin over the spaces, so every seed gives each
    space the same share of records (the first space the most, with the
    hottest segment); the seed picks which segments of a space are hot
    and draws the records."""

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng(seed)
        perms = [self.rng.permutation(SEGMENTS_PER_SPACE) for _ in SPACES]
        # keys hottest first: the i-th is in SPACES[i % len(SPACES)]
        self.keys = [
            (sp, f"seg{perm[r]:02d}")
            for r in range(SEGMENTS_PER_SPACE)
            for sp, perm in zip(SPACES, perms)
        ]
        w = 1.0 / np.arange(1, len(self.keys) + 1, dtype=float) ** ZIPF_S
        self.p = w / w.sum()
        self.hottest = self.keys[0]
        self.tails: dict[tuple[str, str], int] = {}
        self.generated = 0

    def chunk(self):
        import pandas as pd

        idx = self.rng.choice(len(self.keys), CHUNK_RECORDS, p=self.p)
        sizes = np.clip(
            self.rng.lognormal(np.log(200), 0.8, CHUNK_RECORDS), 16, 4096
        ).astype(int)
        blob = self.rng.integers(0, 256, int(sizes.sum()), dtype=np.uint8).tobytes()
        ends = np.cumsum(sizes)
        rows = []
        for i, k in enumerate(idx):
            space, seg = self.keys[k]
            seq = self.tails.get((space, seg), 0) + 1
            self.tails[(space, seg)] = seq
            rows.append((space, seg, seq, blob[ends[i] - sizes[i] : ends[i]]))
        self.generated += len(rows)
        return pd.DataFrame(rows, columns=["space", "segment", "sequence", "payload"])


@dataclass
class IngestState:
    log_dir: str
    consumer: object
    delivered: list = field(default_factory=list)
    read_offset: tuple | None = None


def ingest_op(ctx, gen: ChunkGenerator, st: IngestState, traced: bool) -> Op:
    from pyspark.sql import functions as F

    from streams_spark import client
    from streams_spark.store import read_event_log

    tracer = ctx.tracer
    tracer.active = traced
    ctx.op_id += 1
    tracer.begin_op(ctx.op_id, "chunk")
    pdf = gen.chunk()
    expect = set(zip(pdf.space, pdf.segment, pdf.sequence))
    read_space = gen.hottest[0]
    spark = ctx.spark
    records = spark.createDataFrame(
        pdf, "space string, segment string, sequence long, payload binary"
    )
    problems: list[str] = []
    error = None
    phases = {}
    t0 = time.perf_counter()
    try:
        with tracer.span("op"):
            with tracer.span("ingest.commit"):
                tails = None
                if os.path.isdir(st.log_dir):
                    with tracer.span("client.peek_all"):
                        tails = client.peek_all(read_event_log(spark, st.log_dir)).select(
                            "space", "segment", F.col("sequence").alias("last_sequence")
                        )
                with tracer.span("client.produce"):
                    status = client.produce(records, st.log_dir, last_sequences=tails)
            phases["commit"] = time.perf_counter() - t0
            before = len(st.delivered)
            with tracer.span("consumer.drain"):
                st.consumer.consume_available(lambda df, bid: _deliver(st, df, tracer))
            phases["deliver"] = time.perf_counter() - t0
            t_read = time.perf_counter()
            with tracer.span("ingest.read"):
                log = read_event_log(spark, st.log_dir)
                with tracer.span("client.peek"):
                    peeked = client.peek(log, *gen.hottest).collect()
                with tracer.span("client.consume_space"):
                    read = client.consume_space(
                        log, read_space, offset=st.read_offset
                    ).select("timestamp", "segment", "sequence").collect()
            phases["read"] = time.perf_counter() - t_read
    except Exception:  # one failed op must not end the run
        error = _report_error("chunk")
    wall = time.perf_counter() - t0
    tracer.end_op(wall)
    tracer.active = False
    if error is None:
        if read:
            last = read[-1]
            st.read_offset = (last.timestamp, last.segment, last.sequence)
        problems = check.chunk_problems(
            expect,
            sum(r.n for r in status),
            st.delivered[before:],
            read_space,
            [(read_space, r.segment, r.sequence) for r in read],
            peeked[0].sequence if peeked else None,
            gen.tails[gen.hottest],
        )
    return Op("chunk", wall, error=error, problems=problems, traced=traced,
              op_id=ctx.op_id, phases=phases)


def _deliver(st: IngestState, df, tracer) -> None:
    rows = df.select("space", "segment", "sequence").collect()
    st.delivered.extend((r.space, r.segment, r.sequence) for r in rows)
    tracer.count("consumer.batches")


def ingest_workload(ctx, seconds: float, trace: bool) -> Outcome:
    from streams_spark import client
    from streams_spark.store import log_file_stats, read_event_log
    from streams_spark.streaming.consumer import ConsumerContext

    gen = ChunkGenerator(ctx.seed)
    log_dir = os.path.join(ctx.scratch, "log")
    st = IngestState(
        log_dir, ConsumerContext(ctx.spark, log_dir, os.path.join(ctx.scratch, "ckpt"))
    )
    # set-up: the first chunks (log creation, codegen, consumer start)
    first = [ingest_op(ctx, gen, st, traced=trace) for _ in range(SETUP_CHUNKS)]
    setup_s = time.perf_counter() - ctx.t_setup
    mark("set-up done")

    ops: list[Op] = []
    t0 = time.perf_counter()
    while True:
        traced = trace and len(ops) % 2 == 1
        ops.append(with_cpu(ctx, ingest_op, ctx, gen, st, traced))
        if time.perf_counter() - t0 >= seconds and (not trace or len(ops) >= 4):
            break
    window = time.perf_counter() - t0
    mark("window done")

    # final invariants over the whole log, set-up chunks included
    log = read_event_log(ctx.spark, log_dir)
    viol = [
        (r.space, r.segment, r.violations)
        for r in client.sequence_violations(log).collect()
    ]
    peeked = {
        (r.space, r.segment): r.sequence for r in client.peek_all(log).collect()
    }
    extra = check.ingest_problems(
        viol, gen.generated, log.count(), st.delivered, gen.tails, peeked
    )
    extra += [
        f"set-up chunk failed: {op.error or op.problems}" for op in first if op.failed
    ]
    files = log_file_stats(ctx.spark, log_dir)
    return Outcome(
        setup_s, window, ops, extra,
        statistics.mean(files.values()) if files else 0.0,
    )
