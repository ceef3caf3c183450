"""Per-stage checkpoint / lineage / resume (I1-I3).

Every pipeline stage writes its output to
``{workdir}/{stage}/`` (parquet, overwrite = idempotent retry) and then
appends one lineage record per partition plus a stage-summary record to
the checkpoint event log at ``{workdir}/_checkpoints/``:

    (run_id, stage, partition_id, rows, checksum, status, ts, seq)

partition_id = -1 marks the stage-summary row (status committed/failed);
-2 marks a pre-overwrite intent row (status writing), appended before a
stage dir is rewritten so that OTHER runs' stale committed markers for
the shared dir can never satisfy a resume (completed() requires the
latest negative-partition event to be this run's commit).
A killed run resumes by skipping stages whose summary row is committed
and whose output directory exists, re-reading the materialized output —
the driver-loop equivalent of the reference's phase validation
checkpoints (evaluation/pipeline_validation.rs:41-534) fused with its
incremental store versioning (graph/incremental/store.rs:57-130).

The event log is bookkeeping, not data, so it is kept on the driver with
pyarrow and starts no Spark job.  An append writes one parquet file under
a dot-prefixed temp name in ``_checkpoints`` and ``os.replace``s it to
``part-<seq>-<uuid>.parquet``; pyarrow and Spark both skip ``.``/``_``
files, so a reader sees an append whole or not at all.  Every read
applies one fixed Arrow schema, so logs written by Spark's parquet writer
(part files, ``_SUCCESS``, ``.crc``) and pre-``seq`` files (seq read as
0) resume alike.  The workdir is therefore a POSIX path the driver
mounts, as the ``os.path.exists`` checks already assume; ``os.replace``
within one directory is atomic there.

On a lakehouse deployment the same records target an Iceberg table and
`MERGE INTO` gives partition-level (not just stage-level) resume; the
sink replaces `_append`/`_read_ckpt` only.  Plain parquet keeps this
sandbox dependency-free while preserving the contract.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

CHECKPOINT_SCHEMA = pa.schema([
    ("run_id", pa.string()), ("stage", pa.string()),
    ("partition_id", pa.int32()), ("rows", pa.int64()),
    ("checksum", pa.int64()), ("status", pa.string()),
    ("ts", pa.float64()), ("seq", pa.int64()),
])


class CheckpointManager:
    """Single writer per workdir at a time (the resume contract): two
    drivers appending concurrently can mint the same seq.  Each append is
    atomic (temp file + ``os.replace`` on the driver), and the seq +
    deterministic tiebreak below makes SEQUENTIAL runs (including killed
    ones) order reliably without trusting wall clocks; true concurrent
    writers need the Iceberg deployment's optimistic commit (see module
    docstring)."""

    def __init__(self, spark: SparkSession, workdir: str, run_id: str):
        self.spark = spark
        self.workdir = workdir
        self.run_id = run_id
        self.ckpt_dir = os.path.join(workdir, "_checkpoints")

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def _read_ckpt(self) -> pa.Table:
        """The whole event log under CHECKPOINT_SCHEMA, read from disk on
        every call so other managers' appends are visible.  A file with
        no seq column (pre-seq layout) reads seq as 0."""
        if not os.path.isdir(self.ckpt_dir):
            return CHECKPOINT_SCHEMA.empty_table()
        ck = ds.dataset(self.ckpt_dir, schema=CHECKPOINT_SCHEMA,
                        format="parquet").to_table()
        i = ck.schema.get_field_index("seq")
        return ck.set_column(i, CHECKPOINT_SCHEMA.field(i),
                             pc.fill_null(ck["seq"], 0))

    def _next_seq(self) -> int:
        """Monotonic event counter: max existing seq + 1, read at append
        time. Orders events without trusting wall-clock ts (ADVICE r4:
        time.time() ties broke nondeterministically and clock skew
        between drivers on a shared filesystem could mis-order)."""
        return (pc.max(self._read_ckpt()["seq"]).as_py() or 0) + 1

    def _append(self, rows: list[tuple]) -> None:
        seq = self._next_seq()
        table = pa.Table.from_pylist(
            [dict(zip(CHECKPOINT_SCHEMA.names, r + (seq,))) for r in rows],
            schema=CHECKPOINT_SCHEMA)
        os.makedirs(self.ckpt_dir, exist_ok=True)
        name = f"part-{seq:05d}-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.ckpt_dir, "." + name)
        pq.write_table(table, tmp, store_schema=False,
                       write_statistics=False)
        os.replace(tmp, os.path.join(self.ckpt_dir, name))

    def completed(self, stage: str) -> bool:
        # run_id scopes the resume decision BOTH ways (ADVICE r3): a new
        # run must not adopt another run's outputs, AND an old run must
        # not resume onto a stage dir another run has since overwritten
        # — stage dirs are shared at the workdir root (layout contract),
        # so the LATEST summary event for the stage decides.  run_stage
        # appends a 'writing' event BEFORE its overwrite, so even a
        # crashed foreign overwrite invalidates stale committed markers.
        # partition_id -1 = commit summary, -2 = pre-overwrite intent.
        # Ordering: seq (monotonic, clock-free) first; (ts, run_id,
        # partition_id) as a fully deterministic tiebreak for legacy
        # rows and the documented same-seq concurrent-writer edge —
        # intent rows (-2 < -1) win ties, i.e. ambiguity re-runs the
        # stage rather than adopting a possibly-stale output.
        ck = self._read_ckpt()
        events = ck.filter((pc.field("stage") == stage)
                           & (pc.field("partition_id") < 0))
        if events.num_rows == 0:
            return False
        last = events.sort_by([("seq", "descending"), ("ts", "descending"),
                               ("run_id", "descending"),
                               ("partition_id", "ascending")]
                              ).slice(0, 1).to_pylist()[0]
        return (last["run_id"] == self.run_id
                and last["status"] == "committed"
                and os.path.exists(self._stage_dir(stage)))

    def load(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._stage_dir(stage))

    def run_stage(self, stage: str, df_fn, resume: bool = True) -> DataFrame:
        """Execute (or skip) a stage: materialize df_fn() to parquet with
        per-partition lineage, return the re-read DataFrame (so downstream
        plans read columnar files instead of recomputing the lineage)."""
        if resume and self.completed(stage):
            return self.load(stage)
        out_dir = self._stage_dir(stage)
        # intent marker (partition_id -2) BEFORE the overwrite: any
        # other run's committed marker for this stage is now stale,
        # even if this run dies mid-write (see completed())
        self._append([(self.run_id, stage, -2, 0, 0, "writing",
                       time.time())])
        df = df_fn()
        df.write.mode("overwrite").parquet(out_dir)
        # the known schema skips inference, which costs a Spark job
        written = self.spark.read.schema(df.schema).parquet(out_dir)
        lineage = (
            written.withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(
                    F.expr("bit_xor(xxhash64("
                           + ", ".join(f"`{c}`" for c in written.columns)
                           + "))"),
                    F.lit(0),
                ).alias("checksum"),
            )
            .collect()
        )
        now = time.time()
        records = [
            (self.run_id, stage, int(r["partition_id"]), int(r["rows"]),
             int(r["checksum"]), "ok", now)
            for r in lineage
        ]
        total_rows = sum(int(r["rows"]) for r in lineage)
        total_checksum = 0
        for r in lineage:
            total_checksum ^= int(r["checksum"])
        records.append((self.run_id, stage, -1, total_rows,
                        total_checksum, "committed", now))
        self._append(records)
        return written
