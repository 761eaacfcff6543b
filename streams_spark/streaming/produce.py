"""Transactional produce path: validated, idempotent, exactly-once appends.

Reproduces the observable guarantees of the reference's 2-phase commit
produce pipeline (/root/reference/server/pebble/service.go:296-335,
410-523): sequence contiguity per (space, segment), atomic chunk commit,
and duplicate-transaction rejection — using the Structured Streaming sink
contract instead of a WAL + quorum: an idempotent foreachBatch keyed by
batchId (a committed-batch ledger) gives the same exactly-once result
from the consumer's viewpoint (SURVEY.md §7).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class SequenceError(ValueError):
    """ERR_SEQUENCE_MISMATCH analog (/root/reference/server/pebble/service.go:349)."""


def stamp_records(
    records: DataFrame,
    last_sequences: DataFrame | None = None,
    node_id: str | None = None,
) -> DataFrame:
    """Server-side stamping of a produce batch: assign timestamp (arrival
    time), trx identity, and validate per-segment sequence contiguity
    against the current log tails.

    records: (space, segment, sequence, payload[, metadata])
    last_sequences: (space, segment, last_sequence) — from peek_all; None
    means empty log (all segments start at 1).
    """
    trx_id = str(uuid.uuid4())
    node = node_id or str(uuid.uuid4())
    df = records
    if last_sequences is None:
        df = df.withColumn("last_sequence", F.lit(0).cast("long"))
    else:
        df = df.join(
            F.broadcast(last_sequences), ["space", "segment"], "left"
        ).withColumn(
            "last_sequence", F.coalesce(F.col("last_sequence"), F.lit(0))
        )
    w = Window.partitionBy("space", "segment").orderBy("sequence")
    df = df.withColumn(
        "expected",
        F.coalesce(F.lag("sequence").over(w), F.col("last_sequence")) + 1,
    )
    # trx_number = the segment's 1-based index within the batch. A
    # dense_rank over an UNPARTITIONED window would shuffle the whole
    # batch onto one task to compute it; ranking the tiny distinct
    # (space, segment) frame and broadcasting it back yields identical
    # values with the global sort confined to |segments| rows.
    seg_rank = (
        df.select("space", "segment")
        .distinct()
        .withColumn(
            "trx_number",
            F.row_number()
            .over(Window.orderBy("space", "segment"))
            .cast("long"),
        )
    )
    return (
        df.withColumn("valid", F.col("sequence") == F.col("expected"))
        # folded into an inlined long literal: 2 fresh classes per produce
        .withColumn("timestamp", F.current_timestamp())
        .withColumn("trx_id", F.lit(trx_id))
        .withColumn("trx_node", F.lit(node))
        .join(F.broadcast(seg_rank), ["space", "segment"])
    )


def validate_batch(stamped: DataFrame) -> None:
    """Reject the whole chunk on any contiguity violation, like the
    reference rejects the transaction (service.go:345-363)."""
    bad = stamped.where(~F.col("valid")).limit(1).collect()
    if bad:
        r = bad[0]
        raise SequenceError(
            f"sequence mismatch in ({r.space}, {r.segment}): "
            f"got {r.sequence}, expected {r.expected}"
        )


def segment_status(batch: DataFrame) -> list:
    """SegmentStatus rows of a committed batch (server/messages.go:38-45):
    per (space, segment) first/last sequence and count. Shared by the
    batch produce verb and the streaming sink so the status shape cannot
    drift between the two commit paths."""
    return (
        batch.groupBy("space", "segment")
        .agg(
            F.min("sequence").alias("first_sequence"),
            F.max("sequence").alias("last_sequence"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )


def _log_has_data(spark, log_dir: str) -> bool:
    """True iff the log path exists and contains at least one
    non-hidden entry — resolved through the Hadoop FileSystem of the
    path's scheme, so s3a://, hdfs:// and file:// logs all answer
    correctly. A driver-local os.path check would silently report a
    REMOTE log as absent and let validation run against
    last_sequence=0 (the duplicate-append failure mode the explicit
    check exists to prevent)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(log_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return False
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if not (name.startswith(".") or name.startswith("_")):
            return True
    return False


class IdempotentLogSink:
    """foreachBatch sink with a committed-batch ledger.

    Phase 1 (write) / phase 2 (commit) of the reference's 2PC become:
    check ledger → write parquet → record batchId. Re-delivery of a batch
    after failure is a no-op — the same duplicate-write guard as the
    reference's pending-transaction window (service.go:722-758).

    Rollback (service.go:509-523): each batch writes under its own
    `commit_batch=<id>` partition, and the ledger file is the commit
    point. A batch killed between the parquet write and the ledger write
    leaves phase-1 residue that (a) `read_committed` never surfaces
    (batch id absent from the ledger), and (b) the next delivery of the
    same batchId deletes before rewriting — so a crashed commit can
    neither duplicate rows nor leak uncommitted ones.
    """

    def __init__(self, log_dir: str, ledger_dir: str, hub=None) -> None:
        self.log_dir = log_dir
        self.ledger_dir = ledger_dir
        self.hub = hub  # optional SubscriptionHub for post-commit notify
        os.makedirs(ledger_dir, exist_ok=True)

    def _ledger_path(self, batch_id: int) -> str:
        return os.path.join(self.ledger_dir, f"batch-{batch_id}.json")

    def committed(self, batch_id: int) -> bool:
        return os.path.exists(self._ledger_path(batch_id))

    def committed_ids(self) -> list[int]:
        return sorted(
            int(n[len("batch-") : -len(".json")])
            for n in os.listdir(self.ledger_dir)
            if n.startswith("batch-") and n.endswith(".json")
        )

    def _batch_dir(self, batch_id: int) -> str:
        return os.path.join(self.log_dir, f"commit_batch={batch_id}")

    def rollback(self, batch_id: int) -> None:
        """Delete phase-1 residue of an uncommitted batch (the explicit
        Rollback verb). Refuses to touch committed batches."""
        if self.committed(batch_id):
            raise ValueError(f"batch {batch_id} is committed; cannot roll back")
        shutil.rmtree(self._batch_dir(batch_id), ignore_errors=True)

    def read_committed(self, spark) -> DataFrame:
        """The read-committed view of the log: only batches whose ledger
        record exists. The isin filter prunes whole `commit_batch=`
        partition directories at the scan, so uncommitted residue is
        never read, let alone surfaced. A sink that has committed
        nothing yet reads as an EMPTY frame (canonical event-log
        schema), not a PATH_NOT_FOUND crash — 'only committed batches'
        includes the zero-batches case."""
        ids = self.committed_ids()
        if not ids or not _log_has_data(spark, self.log_dir):
            from streams_spark.schema import EVENT_LOG_SCHEMA

            return spark.createDataFrame([], EVENT_LOG_SCHEMA)
        df = spark.read.parquet(self.log_dir)
        return df.where(F.col("commit_batch").isin(ids)).drop("commit_batch")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.committed(batch_id):
            return  # duplicate delivery — exactly-once no-op
        self.rollback(batch_id)  # clear residue of a crashed prior attempt
        # materialize once: the write and the status agg would otherwise
        # each re-execute the batch plan
        batch_df = batch_df.localCheckpoint()
        (
            batch_df.withColumn("commit_batch", F.lit(batch_id))
            .write.mode("append")
            .partitionBy("commit_batch", "space")
            .parquet(self.log_dir)
        )
        status = segment_status(batch_df)
        # SegmentStatus notification analog (server/messages.go:38-45)
        tmp = self._ledger_path(batch_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "batch_id": batch_id,
                    "segments": [r.asDict() for r in status],
                },
                f,
                default=str,
            )
        os.rename(tmp, self._ledger_path(batch_id))
        if self.hub is not None:
            # post-commit notification, like the reference's
            # notifySupervisor(SegmentStatus) after a committed chunk
            # (/root/reference/server/pebble/service.go:388-392)
            self.hub.notify_batch(batch_id, [r.asDict() for r in status])

    def statuses(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.ledger_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.ledger_dir, name)) as f:
                    out.append(json.load(f))
        return out


def streaming_produce(
    spark,
    records_dir: str,
    log_dir: str,
    ledger_dir: str,
    checkpoint_dir: str,
    hub=None,
    max_files_per_trigger: int = 1,
):
    """The full reference produce pipeline as one streaming query:
    records stream in → per chunk: peek current tails → stamp + validate
    contiguity → idempotent commit → SegmentStatus notification.

    Mirrors /root/reference/server/pebble/service.go:296-335 end to end:
    ChunkByCount becomes maxFilesPerTrigger micro-batching, the WAL+2PC
    becomes the batchId ledger, notifySupervisor becomes the hub. A chunk
    with a sequence gap aborts the query (the transaction), leaving the
    log exactly as it was — rejection is all-or-nothing per chunk.

    Returns the StreamingQuery (AvailableNow: drains existing records and
    stops; re-run after new records arrive for ConsumerContext-style
    tailing).
    """
    from streams_spark import client

    sink = IdempotentLogSink(log_dir, ledger_dir, hub=hub)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        if sink.committed(batch_id):
            return
        # Empty-log detection is EXPLICIT (Hadoop-FS path check, so
        # s3a://hdfs:// logs resolve correctly), not exception-driven: a
        # transient read error on a NON-empty log must abort the batch,
        # not silently validate against last_sequence=0 and append
        # duplicate sequences. Only genuinely-absent logs take the
        # tails=None path. Tails come from the READ-COMMITTED view:
        # peeking raw files would count phase-1 residue of a crashed
        # batch and push the expected sequence past the committed tail,
        # wedging every retry on a phantom gap.
        if _log_has_data(batch_df.sparkSession, log_dir):
            log = sink.read_committed(batch_df.sparkSession)
            tails = client.peek_all(log).select(
                "space", "segment", F.col("sequence").alias("last_sequence")
            )
        else:  # first batch: no log yet
            tails = None
        stamped = stamp_records(batch_df, last_sequences=tails)
        validate_batch(stamped)
        sink(stamped.drop("last_sequence", "expected", "valid"), batch_id)

    stream = (
        spark.readStream.schema(
            "space string, segment string, sequence long, payload binary"
        )
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(records_dir)
    )
    return (
        stream.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
