"""Benchmark of the shipped indexing job (`job.py`'s batch path).

    python3 perfbench/run.py --workload small_index --seed 1 \
        --seconds 1 --trace 0

One closed-loop client in one driver process at local[2] (SLOTS):
each job runs `run_pipeline_checkpointed` into a fresh workdir, then the
table-count summary `job.py` prints, and jobs repeat until `--seconds`
have passed (at least one).  Every job is gated against the oracle.

`--trace 0` prints the end-to-end metrics; `--trace 1` turns Spark's
event log on, tags every Spark job with the pipeline layer that caused
it (tracing.py) and prints per-layer metrics instead.  The last line of
stdout is one JSON object: correct, attempted, failed, metrics.

Inputs, oracle results, crashed workdirs, untraced job times and scratch
space live under `.perfbench_cache/` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
WORKDIR = os.path.join(CACHE, "work", str(os.getpid()))   # this run's job
# fixed, so memory figures do not follow the host's free memory the way
# get_spark's default heap size does.  Below that default's 8g floor on
# purpose: with an 8g ceiling ParallelGC lets the heap grow to ~6 GB on
# these inputs before it collects, so peak RSS would measure heap
# sizing rather than the job.
DRIVER_MEMORY = "3g"
# Task slots.  The job is bound by its ~240 small Spark jobs, not by task
# parallelism: on a 4-vCPU VM a cold job took 52 s at local[1] and
# local[2] but 61 s at local[4], where task threads compete with JIT, GC
# and the Python workers.  Fixed, so results do not follow the host's
# core count.
SLOTS = 2
MB = 1 << 20


def shipped_job(spark, input_path: str, workdir: str,
                tracer=None) -> tuple[int, dict]:
    """job.py's batch path: read, count turns, run the checkpointed
    pipeline, print-equivalent table counts.  When traced, the input
    count belongs to `chunking` (its consumer) and the count summary to
    `checkpoint` (it reads the materialized tables back)."""
    from graphrag_rs_spark.config import DEFAULT_CONFIG
    from graphrag_rs_spark.stages.pipeline import run_pipeline_checkpointed
    from gate import COUNTED_TABLES
    from workloads import RUN_ID

    def span(layer, name):
        return tracer.span(layer, name) if tracer else contextlib.nullcontext()

    transcripts = spark.read.parquet(input_path)
    with span("chunking", "input_count"):
        n_turns = transcripts.count()
    res = run_pipeline_checkpointed(spark, transcripts, workdir=workdir,
                                    run_id=RUN_ID, cfg=DEFAULT_CONFIG,
                                    resume=True)
    with span("checkpoint", "summary"):
        counts = {t: getattr(res, t).count() for t in COUNTED_TABLES}
    return n_turns, counts


def descendants() -> list[int]:
    """Pids of this process's descendants (the driver JVM, Spark's
    Python daemon and its workers, pool processes), from /proc."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:   # exited while listed
            continue
        children.setdefault(ppid, []).append(int(pid))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def resident_bytes(pid: int) -> int:
    """Pss of one process, or RSS for the JVM: Python workers fork from
    one daemon and share most pages, which Pss counts once; the JVM shares
    next to nothing and walking its pages for Pss is slow."""
    with open(f"/proc/{pid}/comm") as fh:
        java = fh.read().strip() == "java"
    if java:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


class RssSampler:
    """Peak summed resident memory of this process's descendants."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total = 0
        for pid in descendants():
            try:
                total += resident_bytes(pid)
            except OSError:   # exited while sampled
                continue
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def start_spark(cores: int, event_dir: str | None):
    """Spark session as job.py opens it, with scratch space kept inside
    the checkout and, when tracing, the event log on."""
    from graphrag_rs_spark.session import get_spark
    confs = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(CACHE, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": event_dir})
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, cores: int) -> None:
    """First job plus one Python worker per slot."""
    def identity(batches):
        yield from batches
    spark.range(0, cores, numPartitions=cores) \
        .mapInPandas(identity, "id long").collect()


def stop_spark(spark) -> None:
    """Stop the session, then wait for the driver JVM and every process
    it started to exit."""
    from pyspark import SparkContext
    started = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()   # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{pid}") for pid in started):
        if time.monotonic() > deadline:
            raise RuntimeError("Spark processes still running after stop")
        time.sleep(0.1)


def kernel_baseline(chunks: list[str]) -> float:
    """Seconds for `reference_logic.extract_from_chunk` over every chunk,
    in this plain Python process."""
    from graphrag_rs_spark import reference_logic as rl
    from graphrag_rs_spark.config import DEFAULT_CONFIG as cfg
    t0 = time.perf_counter()
    for text in chunks:
        rl.extract_from_chunk(text, cfg.entity_types, cfg.min_confidence)
    return time.perf_counter() - t0


def canonicalize_counts(spark, workdir: str) -> dict:
    """Blocking and merge counts behind the canonical_map stage."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from graphrag_rs_spark.config import DEFAULT_CONFIG as cfg
    from graphrag_rs_spark.stages import canonicalize

    entities = spark.read.parquet(os.path.join(workdir, "entities"))
    keyed = canonicalize.shared_blocked_keys(entities)
    pairs = canonicalize.candidate_pairs(entities, keyed=keyed).cache()
    similar = canonicalize.score_pairs(pairs, cfg).filter(
        F.col("sim") >= F.lit(float(cfg.link_min_similarity)))
    dropped = pq.read_table(
        os.path.join(workdir, "canonical_map_dropped_blocks"))
    cmap = pq.read_table(os.path.join(workdir, "canonical_map"))
    return {
        "canonicalize.candidate_pairs": pairs.count(),
        "canonicalize.similar_pairs": similar.count(),
        "canonicalize.max_block":
            keyed.agg(F.max("_bn")).collect()[0][0] or 0,
        "canonicalize.dropped_blocks": dropped.num_rows,
        "canonicalize.dropped_entities":
            sum(dropped.column("n_entities").to_pylist()),
        "canonicalize.merged_entities": sum(
            a != b for a, b in zip(cmap.column("entity_id").to_pylist(),
                                   cmap.column("canonical_id").to_pylist())),
    }


def untraced_path(workload: str, seed: int | str) -> str:
    """Where untraced job_s of one (workload, seed) are recorded, under a
    hash of the program's and the input's sources."""
    import workloads
    return os.path.join(CACHE, "results",
                        workloads.source_hash(workloads.PROGRAM_SOURCES +
                                              workloads.INPUT_SOURCES),
                        f"{workload}_s{seed}.jsonl")


def untraced_job_s(args) -> float:
    """Median untraced job_s of this workload and program source: of this
    seed's runs, else of every seed's.  With none recorded, an untraced run
    comes first in a child process.  Falling back to other seeds, rather
    than always running the child, keeps a traced run of a new seed within
    the run time limit: a child and a traced run are two whole jobs."""
    paths = glob.glob(untraced_path(args.workload, args.seed)) or \
        glob.glob(untraced_path(args.workload, "*"))
    if not paths:
        import subprocess
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--workload", args.workload, "--seed",
                        str(args.seed), "--seconds", "1", "--trace", "0"],
                       check=True, stdout=subprocess.DEVNULL, timeout=150)
        paths = [untraced_path(args.workload, args.seed)]
    values = []
    for path in paths:
        with open(path) as fh:
            values += [json.loads(line) for line in fh]
    return statistics.median(values)


def record_untraced(workload: str, seed: int, job_s: list[float]) -> None:
    path = untraced_path(workload, seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as fh:
        for s in job_s:
            fh.write(json.dumps(s) + "\n")


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def prepare(args, wl) -> tuple[str, dict]:
    """Input parquet and oracle tables, each built once per seed, and for
    a crash workload the seed's crashed workdir.  A missing crashed
    workdir is built in a child process, so the timed process starts cold
    either way."""
    import gate
    import workloads
    input_path = workloads.ensure_input(wl, args.seed, CACHE)
    expected = gate.ensure_expected(
        lambda: workloads.input_rows(wl, args.seed),
        wl.input_seed(args.seed),
        os.path.join(workloads.source_hash(workloads.ORACLE_SOURCES),
                     wl.input_key(args.seed)), CACHE)
    if wl.crash and not os.path.isdir(
            workloads.crashed_path(wl, args.seed, CACHE)):
        import subprocess
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--workload", args.workload, "--seed", str(args.seed),
                        "--seconds", "0", "--prepare"],
                       check=True, stdout=subprocess.DEVNULL, timeout=150)
    return input_path, expected


def build_crashed(args, wl) -> None:
    """`--prepare`: crash the job on the seed's input, keep its workdir."""
    import workloads
    input_path = workloads.ensure_input(wl, args.seed, CACHE)
    spark = start_spark(SLOTS, None)
    try:
        workloads.crash_workdir(spark, input_path, WORKDIR,
                                workloads.crashed_path(wl, args.seed, CACHE))
    finally:
        stop_spark(spark)


def timed_job(spark, input_path: str, workdir: str, tracer,
              snapshot_to: str | None):
    """One shipped job → (job_s, n_turns, counts); with `snapshot_to`,
    the workdir is hard-linked there at the crash point."""
    import workloads
    with contextlib.ExitStack() as hooks:
        if tracer:
            hooks.enter_context(tracer.install())
        if snapshot_to:
            hooks.enter_context(
                workloads.snapshot_at_crash_point(workdir, snapshot_to))
        start = time.perf_counter()
        n_turns, counts = shipped_job(spark, input_path, workdir, tracer)
        job_s = time.perf_counter() - start
    return job_s, n_turns, counts


def run_jobs(spark, wl, args, input_path: str, expected: dict,
             workdir: str, tracer) -> tuple:
    """Closed loop: jobs until `--seconds` have passed, at least one (just
    one when traced), each gated → (jobs, checks, failed).  A crash
    workload's job starts in a copy of the crashed workdir; any other job
    starts in a fresh one and snapshots it at the crash point."""
    import gate
    import workloads
    snap = workloads.crashed_path(wl, args.seed, CACHE)
    taken = None if wl.crash else f"{workdir}.at_crash_point"
    jobs, checks, failed = [], [], 0
    deadline = time.perf_counter() + args.seconds
    while True:
        shutil.rmtree(workdir, ignore_errors=True)
        if wl.crash:
            shutil.copytree(snap, workdir)
        else:
            shutil.rmtree(taken, ignore_errors=True)
        try:
            # memory is sampled only when traced: it is a per-layer metric
            with RssSampler() if tracer else contextlib.nullcontext() as rss:
                job_s, n_turns, counts = timed_job(spark, input_path,
                                                   workdir, tracer, taken)
            check = gate.check_workdir(workdir, counts, expected)
        except Exception:
            traceback.print_exc()
            check = {"ok": False, "problems": ["job raised"]}
        if check["ok"]:
            if taken:
                workloads.keep_snapshot(taken, snap)
            checks.append(check)
            jobs.append({"job_s": job_s, "turns_per_s": n_turns / job_s,
                         "workdir_mb": dir_bytes(workdir) / MB,
                         "peak_rss_mb": rss.peak / MB if rss else None})
        else:
            print("gate:", "; ".join(check["problems"]), file=sys.stderr)
            failed += 1
        if tracer or time.perf_counter() >= deadline:
            return jobs, checks, failed


def end_to_end(setup_s: float, jobs: list, checks: list) -> dict:
    def med(rows, key):
        return statistics.median(r[key] for r in rows)
    return {
        "setup_s": metric(setup_s, "s"),
        **{k: metric(med(jobs, k), unit) for k, unit in (
            ("job_s", "s"), ("turns_per_s", "turns/s"),
            ("workdir_mb", "MB"))},
        **{k: metric(med(checks, k), "ratio") for k in (
            "canon_triple_p", "canon_triple_r", "merge_recall")},
    }


def per_layer(tracer, event_dir: str, workdir: str, job_s: float,
              cores: int, extra: dict) -> dict:
    """Roll the traced job's spans and event log up per layer; fail when
    the spans leave more than 10% of job_s unattributed."""
    import tracing
    import workloads
    lineage_rows = dir_rows(os.path.join(workdir, "_checkpoints"))
    out = tracing.rollup(
        tracer, tracing.read_event_log(event_dir), job_s, cores,
        tracing.stage_rows(workdir, workloads.RUN_ID), lineage_rows)
    if out["run.unattributed_s"] > 0.1 * job_s:
        raise RuntimeError(
            f"layer spans miss {out['run.unattributed_s']:.1f} s of "
            f"{job_s:.1f} s job time")
    out.update(extra)
    out.update({
        "extraction.wrapper_ratio":
            out["extraction.task_s"] / out["reference_logic.extract_s"],
        "checkpoint.completed_calls": tracer.calls["completed"],
        "checkpoint.completed_s": tracer.seconds["completed"],
        "checkpoint.load_s": tracer.seconds["load"],
        "checkpoint.lineage_rows": lineage_rows,
    })
    return {k: metric(v, unit_of(k)) for k, v in sorted(out.items())}


def run(args) -> dict:
    import tracing
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    cores = SLOTS
    input_path, expected = prepare(args, wl)
    extra = {}
    if args.trace:
        untraced_s = untraced_job_s(args)
        extra = {"reference_logic.extract_s":
                     kernel_baseline(expected["chunks"]),
                 "reference_logic.chunks": len(expected["chunks"])}
    event_dir = (os.path.join(CACHE, "events", str(os.getpid()))
                 if args.trace else None)

    t0 = time.perf_counter()
    spark = start_spark(cores, event_dir)
    warm_up(spark, cores)
    setup_s = time.perf_counter() - t0
    try:
        tracer = tracing.Tracer(spark.sparkContext) if args.trace else None
        jobs, checks, failed = run_jobs(spark, wl, args, input_path,
                                        expected, WORKDIR, tracer)
        result = {"correct": failed == 0 and bool(jobs),
                  "attempted": len(jobs) + failed, "failed": failed,
                  "metrics": {}}
        if not jobs:
            return result
        if not args.trace:
            record_untraced(args.workload, args.seed,
                            [j["job_s"] for j in jobs])
            result["metrics"] = end_to_end(setup_s, jobs, checks)
            return result
        extra.update(canonicalize_counts(spark, WORKDIR))
    finally:
        stop_spark(spark)

    job_s = jobs[0]["job_s"]
    extra["tracing.overhead_s"] = job_s - untraced_s
    extra["run.peak_rss_mb"] = jobs[0]["peak_rss_mb"]
    result["metrics"] = per_layer(tracer, event_dir, WORKDIR, job_s, cores,
                                  extra)
    spans_path = os.path.join(CACHE, "traces",
                              f"{args.workload}_s{args.seed}.json")
    os.makedirs(os.path.dirname(spans_path), exist_ok=True)
    with open(spans_path, "w") as fh:
        json.dump({"job_s": job_s, "spans": tracer.spans}, fh)
    shutil.rmtree(event_dir, ignore_errors=True)
    return result


def dir_rows(path: str) -> int:
    import pyarrow.parquet as pq
    return pq.read_table(path).num_rows


UNITS = {"_s": "s", "_mb": "MB", ".jobs": "count", ".stages": "count",
         ".tasks": "count", "_util": "ratio", "_ratio": "ratio",
         ".bytes_out": "bytes"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--prepare", action="store_true",
                        help="only build the seed's crashed workdir")
    args = parser.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "graphrag_rs_spark",
                                       "__init__.py")):
        sys.exit(f"perfbench: no graphrag_rs_spark package under {ROOT}")
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    import workloads
    if args.workload not in workloads.WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads.WORKLOADS)}")
    try:
        if args.prepare:
            build_crashed(args, workloads.WORKLOADS[args.workload])
            return
        result = run(args)
    finally:
        shutil.rmtree(WORKDIR, ignore_errors=True)
        shutil.rmtree(WORKDIR + ".at_crash_point", ignore_errors=True)
    print(json.dumps({k: result[k] for k in
                      ("correct", "attempted", "failed", "metrics")}),
          flush=True)
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
