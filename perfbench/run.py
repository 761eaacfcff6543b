#!/usr/bin/env python3
"""pystreams benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed into a fresh scratch root under `.perfbench_tmp/` (also TMPDIR,
SPARK_LOCAL_DIRS, the JVM's java.io.tmpdir, the working directory and
the staged-feed cache), starts one local[1] session, runs the
workload's set-up and then its timed closed loop, checks every result
outside the timed window, stops every process it started and deletes
the scratch root. With `--trace 1` it also records spans and engine
counters and writes them to `.perfbench_out/`.

stdout: a `{"config": ...}` line, then the result line
`{"correct", "attempted", "failed", "metrics"}`. Exit code 2 when the
program under test is missing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import types

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("query_mix", "ingest_tail")
# Few busy threads, so a run measures the program and not the host's
# scheduler: one Spark core, the serial GC (no parallel or concurrent GC
# workers) and the C1 JIT tier only (no C2 recompiling every query's
# generated classes in the background). On a shared 4-vCPU host this
# cut the run-to-run spread (IQR / median over 5 seeds) of CPU per op
# from 0.21-0.32 to 0.13-0.16, and of query_mix wall times from 0.16
# to 0.11, against local[2] with the default JIT and serial GC.
CORES = 1
JVM_OPTIONS = "-XX:+UseSerialGC -XX:TieredStopAtLevel=1"
# Scheduling priority of the whole process tree (the JVM and the Python
# workers inherit it), so other processes on the same CPUs wait for the
# benchmark rather than the reverse. Under a simulated load (three
# processes each busy half the time in 5-20 s spells on a 4-vCPU host)
# it cut ingest_tail's spread (IQR / median over 5 seeds) from 0.20-0.27
# to 0.10-0.15. Without the right to raise it, a run keeps the
# inherited priority and records it in its config line.
NICE = -10
RECONCILE_LIMIT = 0.1
PROGRAM_FILES = ("streams_spark/__init__.py", "bench.py", "tools/check_oracle.py")

# span name -> per-layer metric of its self time (mean per traced op)
SPAN_METRICS = {
    "operators.build": "operators.build_s",
    "exec.action": "exec.action_s",
    "sources.parquet_read": "sources.parquet_read_s",
    "client.peek_all": "client.peek_all_s",
    "client.produce": "produce.self_s",
    "produce.validate": "produce.validate_s",
    "produce.status": "produce.status_s",
    "store.write": "store.write_s",
    "consumer.drain": "consumer.drain_s",
    "client.peek": "client.peek_s",
    "client.consume_space": "client.consume_space_s",
}
COUNT_METRICS = (
    "sources.parquet_reads", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.input_bytes",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "multimodal.python_ms", "consumer.batches",
)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    # run the finally blocks (stop the JVM, delete the scratch root) on
    # SIGTERM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    missing = [f for f in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"program under test not found: {missing}", file=sys.stderr)
        return 2
    try:
        os.setpriority(os.PRIO_PROCESS, 0, NICE)
    except OSError:  # not permitted: keep the inherited priority
        pass
    parent = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(parent, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=parent)
    cwd = os.getcwd()
    try:
        config, result = _run(args, scratch)
    finally:
        os.chdir(cwd)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:  # another run still uses it
            pass
    print(json.dumps({"config": config}))
    print(json.dumps(result))
    return 0


def _hermetic_env(scratch: str) -> None:
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(CORES),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        # every JVM, the spark-submit launcher too: temp files in the
        # scratch root, no hsperfdata files under /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_OPTIONS}",
    )
    tempfile.tempdir = None  # re-read TMPDIR: the staged-feed cache root
    os.chdir(scratch)  # spark-warehouse and any relative output


def _file_identity(sf_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, name), "rb") as fh:
            h.update(name.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def _run(args, scratch: str):
    _hermetic_env(scratch)
    sys.path.insert(0, ROOT)
    from perfbench import check, gen, procstat, workloads
    from perfbench.procstat import mark
    from perfbench.trace import Tracer

    config = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "python": sys.version.split()[0],
        "nice": os.getpriority(os.PRIO_PROCESS, 0),
    }
    sf_dir = os.path.join(scratch, "data")
    if args.workload != "ingest_tail":
        config["rows_per_table"] = gen.write(sf_dir, args.seed)
        config["testdata_sha256_16"] = _file_identity(sf_dir)

    steal0 = procstat.host_steal()
    sampler = procstat.TreeSampler().start()
    ctx = types.SimpleNamespace(
        seed=args.seed, sf_dir=sf_dir, scratch=scratch, sampler=sampler,
        op_id=0, t_setup=time.perf_counter(),
    )
    spark = tracer = None
    try:
        import bench
        from streams_spark.registry import load_all
        from streams_spark.session import get_spark
        from tools.check_oracle import compare

        ctx.registry = load_all()
        ctx.compare = compare
        t0 = time.perf_counter()
        spark = ctx.spark = get_spark("pystreams-perfbench")
        session_start_s = time.perf_counter() - t0
        conf = spark.sparkContext.getConf()
        config.update(
            master=conf.get("spark.master"),
            shuffle_partitions=spark.conf.get("spark.sql.shuffle.partitions"),
            driver_memory=conf.get("spark.driver.memory", "default"),
            spark=spark.version,
        )
        mark("session started")
        tracer = ctx.tracer = Tracer(spark)
        if args.trace:
            tracer.install()
        if args.workload == "ingest_tail":
            config["chunk_records"] = workloads.CHUNK_RECORDS
            out = workloads.ingest_workload(ctx, args.seconds, bool(args.trace))
        else:
            names = workloads.QUERY_ROWS
            unknown = [n for n in names if n not in bench.HEADLINE or n not in ctx.registry]
            if unknown:
                raise SystemExit(f"rows not in bench.HEADLINE / registry: {unknown}")
            config["rows"] = names
            ctx.oracle = check.Oracle(sf_dir)
            try:
                out = workloads.query_workload(ctx, names, args.seconds, bool(args.trace))
            finally:
                ctx.oracle.close()
        layers = None
        if args.trace:
            layers = _layers(ctx, out, session_start_s, args.workload)
            err = layers["trace.reconcile_err"][0]
            if err > RECONCILE_LIMIT:
                out.extra_failures.append(
                    f"span self times miss an op's wall time by {err:.1%}"
                )
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.dump(
                os.path.join(ROOT, ".perfbench_out",
                             f"trace-{args.workload}-seed{args.seed}.json"),
                {"config": config, "metrics": layers},
            )
    finally:
        mark("workload done")
        if tracer is not None:
            tracer.uninstall()
        _stop(spark)
        sampler.stop()
        mark("stopped")

    attempted, failed = tally(out.ops, out.extra_failures)
    steal1 = procstat.host_steal()
    config.update(
        # hypervisor steal over the run: the share of CPU time the host
        # gave to other tenants, which slows every wall-clock figure
        host_steal_share=round(
            (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 3
        ),
        ops=len(out.ops), window_s=round(out.window_s, 3),
        op_wall_s={
            name: [round(op.wall_s, 4) for op in out.ops if op.name == name]
            for name in dict.fromkeys(op.name for op in out.ops)
        },
        op_cpu_s={
            name: [round(op.cpu_s, 2) for op in out.ops if op.name == name]
            for name in dict.fromkeys(op.name for op in out.ops)
        },
    )
    if layers is None:
        metrics = end_to_end(out.ops, out.window_s)
        metrics["setup_s"] = (out.setup_s, "s")
    else:
        metrics = layers
        metrics["peak_rss_mb"] = (sampler.peak_rss / 2**20, "MB")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return config, result


def tally(ops, extra_failures: list[str]) -> tuple[int, int]:
    """(attempted, failed): every op, plus one per failed whole-run
    check. An op fails on an exception or a wrong result; error_rate is
    failed / attempted."""
    failed_ops = [op for op in ops if op.failed]
    for op in failed_ops:
        print(f"FAILED op {op.name}: {op.error or op.problems}", file=sys.stderr)
    for p in extra_failures:
        print(f"FAILED check: {p}", file=sys.stderr)
    return len(ops) + len(extra_failures), len(failed_ops) + len(extra_failures)


def end_to_end(ops, window_s: float) -> dict[str, tuple[float, str]]:
    """Latency, throughput and CPU over the whole timed window.

    op_p50_s is each op kind's (row's) median wall time, combined over
    kinds by geometric mean, so a given speed-up of any one row moves
    it by the same amount; with one kind (ingest_tail chunks) it is the
    plain median. ops_per_s is completed ops per timed second, and
    cpu_s_per_op the process tree's CPU seconds per op. No tail
    percentile is reported: a window holds 24-30 queries or 8-10
    chunks, too few for ten samples beyond any tail percentile."""
    by_kind: dict[str, list[float]] = {}
    for op in ops:
        by_kind.setdefault(op.name, []).append(op.wall_s)
    medians = [statistics.median(v) for v in by_kind.values()]
    return {
        "op_p50_s": (statistics.geometric_mean(medians), "s"),
        "ops_per_s": (len(ops) / window_s, "1/s"),
        "cpu_s_per_op": (statistics.fmean(op.cpu_s for op in ops), "s"),
    }


def _layers(ctx, out, session_start_s: float, workload: str) -> dict:
    """Per-layer metrics of the traced run: means per traced op, plus
    set-up and whole-run figures."""
    from perfbench.trace import STREAM_PHASES

    tracer = ctx.tracer
    traced = [op for op in out.ops if op.traced]
    untraced = [op for op in out.ops if not op.traced]
    recs = {r.op: r for r in tracer.ops}
    sums = dict.fromkeys(SPAN_METRICS.values(), 0.0)
    sums.update(dict.fromkeys(COUNT_METRICS, 0.0))
    gap = idle = 0.0
    reconcile = []
    phase_ops = []
    for op in traced:
        selfs = tracer.self_times(op.op_id)
        for span, t in selfs.items():
            if span in SPAN_METRICS:
                sums[SPAN_METRICS[span]] += t
            else:  # the op root and grouping spans: untraced gaps
                gap += t
        reconcile.append(abs(sum(selfs.values()) - op.wall_s) / op.wall_s)
        rec = recs.get(op.op_id)
        if rec is None:
            continue
        for k in COUNT_METRICS:
            sums[k] += rec.counts.get(k, 0.0)
        idle += 1 - rec.counts.get("exec.run_ms", 0.0) / (op.wall_s * 1e3 * CORES)
        if rec.streams:
            phase_ops.append({
                p: sum(d.get(p, 0) for d in rec.streams) for p in STREAM_PHASES
            })
    n = max(1, len(traced))
    m = {k: (v / n, _unit(k)) for k, v in sums.items()}
    m["exec.idle_share"] = (idle / n, "ratio")
    for p in STREAM_PHASES:
        m[f"stream.{p}_ms"] = (
            statistics.mean(d[p] for d in phase_ops) if phase_ops else 0.0, "ms"
        )
    m["session.start_s"] = (session_start_s, "s")
    m["sources.feed_build_s"] = (
        sum(s.end - s.start for s in tracer.spans if s.name == "sources.feed_build"), "s"
    )
    m["store.files_per_space"] = (out.files_per_space, "count")
    for phase in ("commit", "deliver", "read"):
        vals = [op.phases[phase] for op in untraced if phase in op.phases]
        m[f"ingest.{phase}_p50_s"] = (statistics.median(vals) if vals else 0.0, "s")
    h264 = jpeg = 0.0
    if workload == "query_mix":
        h264, jpeg = _decoder_ms_per_frame(ctx)
    m["functions.h264_ms_per_frame"] = (h264, "ms/frame")
    m["functions.jpeg_ms_per_frame"] = (jpeg, "ms/frame")
    m["trace.gap_s"] = (gap / n, "s")
    m["trace.overhead_s"] = (
        statistics.mean(o.wall_s for o in traced) - statistics.mean(o.wall_s for o in untraced)
        if traced and untraced else 0.0, "s",
    )
    m["trace.reconcile_err"] = (max(reconcile) if reconcile else 0.0, "ratio")
    m["trace.ops"] = (float(len(traced)), "count")
    return m


def _unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("_bytes"):
        return "bytes"
    return "count"


def _decoder_ms_per_frame(ctx) -> tuple[float, float]:
    """Single-thread direct calls of the H.264 and baseline-JPEG
    decoders on the staged corpora, in this process."""
    from streams_spark.functions.h264 import h264_decode
    from streams_spark.functions.jpeg import jpeg_decode
    from streams_spark.functions.mp4 import extract_samples
    from streams_spark.operators.multimodal import h264_table_real, jpeg_table_real

    frames = []
    for payload in h264_table_real(ctx.spark, ctx.sf_dir).toPandas().payload:
        buf = bytes(payload)
        frames += [buf[s.offset : s.offset + s.size] for s in extract_samples(buf).samples]
        if len(frames) >= 60:
            break
    t0 = time.perf_counter()
    for f in frames:
        h264_decode(f)
    h264 = (time.perf_counter() - t0) * 1e3 / len(frames)
    images = [bytes(p) for p in jpeg_table_real(ctx.spark, ctx.sf_dir).toPandas().payload[:100]]
    t0 = time.perf_counter()
    for img in images:
        jpeg_decode(img)
    jpeg = (time.perf_counter() - t0) * 1e3 / len(images)
    return h264, jpeg


def _stop(spark) -> None:
    """Stop the session, the JVM and every process they started, and
    wait for each to end."""
    from perfbench import procstat

    pids = set(procstat.tree()) - {os.getpid()}
    if spark is not None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        if not pids:
            return
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


if __name__ == "__main__":
    sys.exit(main())
