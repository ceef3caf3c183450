"""Seeded benchmark inputs, cached per (input, seed) outside the tracked tree.

Every workload indexes transcripts from `datagen.generate_rows`; the
program only ever sees the generated parquet.  `resume_crash` times the
job resuming from a crashed workdir: the workdir as it stands when the
job first calls `materialize.communities`, the last stage.  It indexes
the `small_index` inputs of seeds 0 to 2 (its seed modulo 3), because
each crashed workdir costs a whole job to build: one per input keeps the
runs of a checkout within their time limit whatever seeds they get.

There is one way to take that state: a hook at that call hard-links the
workdir's files into a snapshot.  Every `small_index` job runs with the
hook, which takes milliseconds (hard links, no data copied), and the
first one of a seed keeps its snapshot.  A `resume_crash` run that finds none runs the job with the
hook and a crash right after it (`crash_workdir`).

Cached files carry a hash of the sources that shape them in their name,
so a checkout never reuses what another version of the code wrote.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from contextlib import contextmanager
from dataclasses import dataclass

RUN_ID = "bench"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def source_hash(paths: list[str]) -> str:
    """Short digest of the named files' bytes (paths relative to ROOT);
    a directory stands for every .py file under it."""
    files = []
    for rel in paths:
        path = os.path.join(ROOT, rel)
        if os.path.isdir(path):
            files += sorted(os.path.join(d, f) for d, _, names in os.walk(path)
                            for f in names if f.endswith(".py"))
        else:
            files.append(path)
    digest = hashlib.sha256()
    for path in files:
        digest.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as fh:
            digest.update(fh.read() + b"\0")
    return digest.hexdigest()[:12]


# what the generated input, and what the oracle tables, depend on
INPUT_SOURCES = ["graphrag_rs_spark/datagen.py", "perfbench/workloads.py"]
ORACLE_SOURCES = INPUT_SOURCES + [
    "graphrag_rs_spark/oracle.py", "graphrag_rs_spark/reference_logic.py",
    "graphrag_rs_spark/config.py", "perfbench/gate.py"]
PROGRAM_SOURCES = ["graphrag_rs_spark"]


@dataclass(frozen=True)
class Workload:
    name: str
    turns: int            # turns of input
    max_turns: int        # per conversation
    crash: bool = False   # time a resume from the crashed workdir
    inputs: int = 0       # distinct inputs, seeds taken modulo; 0: no limit

    def input_seed(self, seed: int) -> int:
        return seed % self.inputs if self.inputs else seed

    def input_key(self, seed: int) -> str:
        return f"n{self.turns}_t{self.max_turns}_s{self.input_seed(seed)}"


WORKLOADS = {
    w.name: w for w in (
        Workload("small_index", turns=500, max_turns=120),
        Workload("resume_crash", turns=500, max_turns=120, crash=True,
                 inputs=3),
    )
}


def input_rows(wl: Workload, seed: int) -> list[dict]:
    """The first `wl.turns` turns of `datagen.generate_rows`, the last
    conversation cut short where the count is reached.  A fixed turn
    count, rather than a fixed conversation count, keeps input size and
    so turns_per_s steady across seeds (conversation lengths are
    heavy-tailed).  Every conversation has a turn, so `wl.turns`
    conversations always reach the count."""
    from graphrag_rs_spark.datagen import generate_rows
    rows = generate_rows(wl.turns, seed=wl.input_seed(seed),
                         max_turns=wl.max_turns)
    return rows[:wl.turns]


def ensure_input(wl: Workload, seed: int, cache_dir: str) -> str:
    """Parquet path of the workload's transcripts (written once per seed)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from graphrag_rs_spark.datagen import arrow_schema
    path = os.path.join(cache_dir, "inputs", source_hash(INPUT_SOURCES),
                        wl.input_key(seed) + ".parquet")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        schema = arrow_schema()
        rows = input_rows(wl, seed)
        table = pa.Table.from_pydict(
            {f.name: [r[f.name] for r in rows] for f in schema}, schema)
        tmp = f"{path}.tmp.{os.getpid()}"
        pq.write_table(table, tmp, compression="snappy")
        os.replace(tmp, path)
    return path


def crashed_path(wl: Workload, seed: int, cache_dir: str) -> str:
    """Where the seed's crashed workdir is kept, under a hash of the
    program's and the input's sources."""
    return os.path.join(cache_dir, "crashed",
                        source_hash(PROGRAM_SOURCES + INPUT_SOURCES),
                        wl.input_key(seed))


class InjectedCrash(RuntimeError):
    """Raised by the crash wrapper to kill the job mid-pipeline."""


@contextmanager
def snapshot_at_crash_point(workdir: str, dest: str, crash: bool = False):
    """At the first call to `materialize.communities`, hard-link every
    file of `workdir` into `dest` (the job's stage files are written once
    and never changed in place), then raise if `crash`."""
    from graphrag_rs_spark.stages import materialize

    original = materialize.communities

    def hooked(*args, **kwargs):
        if not os.path.exists(dest):
            shutil.copytree(workdir, dest, copy_function=os.link)
        if crash:
            raise InjectedCrash("injected crash before communities")
        return original(*args, **kwargs)

    materialize.communities = hooked
    try:
        yield
    finally:
        materialize.communities = original


def keep_snapshot(taken: str, snap: str) -> None:
    """Move a snapshot into place unless one is there already."""
    if os.path.isdir(snap):
        shutil.rmtree(taken, ignore_errors=True)
        return
    os.makedirs(os.path.dirname(snap), exist_ok=True)
    os.replace(taken, snap)


def crash_workdir(spark, input_path: str, workdir: str, snap: str) -> None:
    """Run the shipped pipeline into `workdir` until the injected crash,
    leaving the crashed state in `snap`."""
    from graphrag_rs_spark.stages.pipeline import run_pipeline_checkpointed

    shutil.rmtree(workdir, ignore_errors=True)
    taken = f"{snap}.tmp.{os.getpid()}"
    shutil.rmtree(taken, ignore_errors=True)
    try:
        with snapshot_at_crash_point(workdir, taken, crash=True):
            run_pipeline_checkpointed(
                spark, spark.read.parquet(input_path), workdir=workdir,
                run_id=RUN_ID)
    except InjectedCrash:
        keep_snapshot(taken, snap)
        return
    raise RuntimeError("crash injection did not fire")
