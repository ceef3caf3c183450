"""Per-layer tracing of the shipped job from the benchmark's own files.

`Tracer.install()` wraps the public functions of each pipeline layer and
sets a Spark job group for the duration of every call, so each Spark job
in the event log carries the layer that caused it.  Spans are kept in
memory; `rollup` joins them with the event log into per-layer metrics.

Attribution: a checkpoint stage's plan build and parquet write belong to
the stage's layer; run_stage's intent/commit appends, read-back lineage,
completed() checks and load() belong to `checkpoint`; connected
components, wherever called from, belong to `cc`.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = ("chunking", "extraction", "triples", "canonicalize", "cc",
          "materialize", "checkpoint")

# checkpoint stage → the layer whose function builds it
STAGE_LAYER = {
    "documents": "chunking",
    "chunks": "chunking",
    "chunk_bundles": "extraction",
    "chunk_entities": "extraction",
    "entities": "extraction",
    "mentions": "extraction",
    "triple_mentions": "triples",
    "triples": "triples",
    "canonical_map_dropped_blocks": "canonicalize",
    "canonical_map": "canonicalize",
    "canonical_triple_mentions": "canonicalize",
    "canonical_triples": "triples",
    "canonical_entities": "materialize",
    "communities": "materialize",
}

# (module, attribute) → layer, for plan-build calls and eager jobs
FUNCTION_LAYER = {
    ("graphrag_rs_spark.stages.chunking", "assemble_documents"): "chunking",
    ("graphrag_rs_spark.stages.chunking", "chunk_documents"): "chunking",
    ("graphrag_rs_spark.stages.extraction", "extract_chunk_bundles"):
        "extraction",
    ("graphrag_rs_spark.stages.extraction", "chunk_entities_from_bundles"):
        "extraction",
    ("graphrag_rs_spark.stages.extraction", "entities_table"): "extraction",
    ("graphrag_rs_spark.stages.extraction", "mentions_table"): "extraction",
    ("graphrag_rs_spark.stages.triples", "emit_triple_mentions_from_bundles"):
        "triples",
    ("graphrag_rs_spark.stages.triples", "triples_with_context"): "triples",
    ("graphrag_rs_spark.stages.canonicalize", "dropped_block_stats"):
        "canonicalize",
    ("graphrag_rs_spark.stages.canonicalize", "canonical_map"):
        "canonicalize",
    ("graphrag_rs_spark.stages.canonicalize", "rewrite_triple_mentions"):
        "canonicalize",
    ("graphrag_rs_spark.stages.canonicalize", "connected_components"): "cc",
    ("graphrag_rs_spark.stages.materialize", "connected_components"): "cc",
    ("graphrag_rs_spark.stages.materialize", "canonical_entities"):
        "materialize",
    ("graphrag_rs_spark.stages.materialize", "communities"): "materialize",
}

# layers that write checkpoint tables (cc only feeds canonicalize and
# materialize)
WRITERS = set(STAGE_LAYER.values()) | {"checkpoint"}
CHECKPOINT_METHODS = ("completed", "load", "_append")
GROUP_KEY = "spark.jobGroup.id"
JOB_GROUP = "job"        # the timed job's work outside every layer span
MB = 1 << 20


class Tracer:
    """Layer spans (name, start, end, parent) plus the job group that tags
    every Spark job started inside a span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.base: str | None = None    # job group outside every span
        self.calls = defaultdict(int)     # checkpoint method → calls
        self.seconds = defaultdict(float)  # checkpoint method → wall s

    def open(self, layer: str, name: str) -> dict:
        span = {"id": len(self.spans), "layer": layer, "name": name,
                "parent": self.stack[-1]["id"] if self.stack else None,
                "start": time.perf_counter(), "end": None}
        self.spans.append(span)
        self.stack.append(span)
        self.set_group(layer)
        return span

    def close(self) -> dict:
        span = self.stack.pop()
        span["end"] = time.perf_counter()
        self.set_group(self.stack[-1]["layer"] if self.stack else self.base)
        return span

    def set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty(GROUP_KEY, group)

    @contextmanager
    def span(self, layer: str, name: str):
        self.open(layer, name)
        try:
            yield
        finally:
            self.close()

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(layer, name):
                return fn(*args, **kwargs)
        return traced

    def _wrap_checkpoint(self, fn, method: str):
        tracer = self

        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                with tracer.span("checkpoint", method):
                    return fn(*args, **kwargs)
            finally:
                tracer.calls[method] += 1
                tracer.seconds[method] += time.perf_counter() - t0
        return traced

    def _wrap_run_stage(self, fn):
        tracer = self

        def traced(manager, stage, df_fn, resume=True):
            if stage not in STAGE_LAYER:
                raise KeyError(f"checkpoint stage {stage!r} maps to no "
                               "layer; add it to tracing.STAGE_LAYER")
            depth = len(tracer.stack)
            tracer.open(STAGE_LAYER[stage], stage)
            tracer.stack[-1]["stage_dir"] = manager._stage_dir(stage)
            try:
                return fn(manager, stage, df_fn, resume)
            finally:
                while len(tracer.stack) > depth:
                    tracer.close()
        return traced

    def _wrap_write(self, fn):
        """After the stage's own parquet write, the rest of run_stage
        (read-back lineage, commit) is checkpoint bookkeeping."""
        tracer = self

        def traced(writer, path, *args, **kwargs):
            out = fn(writer, path, *args, **kwargs)
            top = tracer.stack[-1] if tracer.stack else None
            if top is not None and top.get("stage_dir") == path:
                tracer.close()
                tracer.open("checkpoint", "lineage")
            return out
        return traced

    @contextmanager
    def install(self):
        """Patch the layer functions for the duration of the block; Spark
        jobs it starts outside every span carry `JOB_GROUP`."""
        import importlib
        from pyspark.sql import DataFrameWriter
        from graphrag_rs_spark.stages.checkpoint import CheckpointManager

        patches = []
        for (mod_name, attr), layer in FUNCTION_LAYER.items():
            mod = importlib.import_module(mod_name)
            patches.append((mod, attr, self._wrap(getattr(mod, attr), layer,
                                                  attr)))
        for method in CHECKPOINT_METHODS:
            patches.append((CheckpointManager, method, self._wrap_checkpoint(
                getattr(CheckpointManager, method), method)))
        patches.append((CheckpointManager, "run_stage",
                        self._wrap_run_stage(CheckpointManager.run_stage)))
        patches.append((DataFrameWriter, "parquet",
                        self._wrap_write(DataFrameWriter.parquet)))
        originals = [(obj, attr, getattr(obj, attr))
                     for obj, attr, _ in patches]
        for obj, attr, new in patches:
            setattr(obj, attr, new)
        self.base = JOB_GROUP
        self.set_group(self.base)
        try:
            yield self
        finally:
            for obj, attr, old in originals:
                setattr(obj, attr, old)
            self.base = None
            self.set_group(None)

    def self_times(self) -> dict[str, float]:
        """Layer → summed span time not covered by child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += s["end"] - s["start"] - child[s["id"]]
        return out

    def covered_s(self) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] is None)


def read_event_log(log_dir: str) -> list[dict]:
    """Events from Spark's (rolling, possibly zstd-compressed) event log."""
    import pyarrow as pa

    def index(path):
        m = re.search(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                       key=index):
        codec = path.rsplit(".", 1)[-1]
        with pa.OSFile(path) as raw:
            if codec in ("zstd", "lz4", "snappy"):
                with pa.CompressedInputStream(raw, codec) as stream:
                    data = stream.read()
            else:
                data = raw.read()
        events.extend(json.loads(line)
                      for line in data.decode().splitlines() if line)
    return events


def _zero() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "bytes_out": 0}


def job_group_totals(events: list[dict]) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, task/GC seconds, shuffle,
    spill and bytes written.  A stage counts once, for the group that
    submitted it first."""
    groups: dict[str, dict] = defaultdict(_zero)
    stage_group = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get(GROUP_KEY)
            if g is not None:
                groups[g]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            g = (e.get("Properties") or {}).get(GROUP_KEY)
            sid = e["Stage Info"]["Stage ID"]
            if g is not None and sid not in stage_group:
                stage_group[sid] = g
                groups[g]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if g is None or not m:
                continue
            acc = groups[g]
            acc["tasks"] += 1
            acc["task_s"] += m["Executor Run Time"] / 1000
            acc["gc_s"] += m["JVM GC Time"] / 1000
            sr = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0)) / MB
            sw = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            acc["bytes_out"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
    return dict(groups)


def stage_rows(workdir: str, run_id: str) -> dict[str, int]:
    """Committed row counts per checkpoint stage, from the lineage table."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(workdir, "_checkpoints"),
                      columns=["run_id", "stage", "partition_id", "rows",
                               "status"])
    t = t.filter(pc.and_(pc.equal(t["run_id"], run_id),
                         pc.equal(t["status"], "committed")))
    return dict(zip(t["stage"].to_pylist(), t["rows"].to_pylist()))


def rollup(tracer: Tracer, events: list[dict], job_s: float, cores: int,
           rows_by_stage: dict[str, int], lineage_rows: int) -> dict:
    """Per-layer and run-level metrics of one traced job.  Jobs of the
    timed job outside every layer span carry the group `JOB_GROUP`."""
    groups = job_group_totals(events)
    wall = tracer.self_times()
    rows = defaultdict(int)
    for stage, n in rows_by_stage.items():
        rows[STAGE_LAYER[stage]] += n
    rows["checkpoint"] = lineage_rows
    out = {}
    for layer in LAYERS:
        g = groups.get(layer, _zero())
        w = wall.get(layer, 0.0)
        out.update({
            f"{layer}.wall_s": w,
            f"{layer}.jobs": g["jobs"],
            f"{layer}.tasks": g["tasks"],
            f"{layer}.task_s": g["task_s"],
            f"{layer}.slot_util": g["task_s"] / (w * cores) if w else 0.0,
            f"{layer}.gc_s": g["gc_s"],
            f"{layer}.shuffle_read_mb": g["shuffle_read_mb"],
            f"{layer}.shuffle_write_mb": g["shuffle_write_mb"],
            f"{layer}.spill_mb": g["spill_mb"],
        })
        if layer in WRITERS:
            out[f"{layer}.bytes_out"] = g["bytes_out"]
            out[f"{layer}.rows_out"] = rows[layer]
    run = [g for name, g in groups.items()
           if name in LAYERS or name == JOB_GROUP]
    out.update({
        "run.jobs": sum(g["jobs"] for g in run),
        "run.stages": sum(g["stages"] for g in run),
        "run.tasks": sum(g["tasks"] for g in run),
        "run.slot_util": sum(g["task_s"] for g in run) / (job_s * cores),
        "run.unattributed_s": job_s - tracer.covered_s(),
    })
    return out
