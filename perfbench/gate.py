"""Correctness gate: the shipped job's tables against `graphrag_rs_spark.oracle`.

`run_oracle_pipeline` runs once per input seed, unmodified, outside every
timed region, and its tables are cached as JSON.  Merge recall is taken
over all pairs of a seeded sample of the oracle's entities.

A run fails when its raw (subj, pred, obj) set, its entity rows, its
(entity_id, community) set or its count summary differ from the
oracle's.  Canonical triple precision/recall and merge recall are
reported, not gated: a known shortfall shows as a number.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

ENTITY_COLS = ("entity_id", "name", "entity_type", "mention_count",
               "confidence")
# the tables job.py's count summary counts
COUNTED_TABLES = ("documents", "chunks", "entities", "mentions", "triples",
                  "canonical_triples", "communities")
MERGE_SAMPLE = 400   # entities whose pairs merge_recall scores


def similar_pairs(entities: list[dict], cfg) -> list[tuple[str, str]]:
    """Every pair of `entities` that the oracle's linker unions: same
    type (the similarity of any other pair is 0) and similarity ≥ τ."""
    from graphrag_rs_spark import reference_logic as rl
    by_type = defaultdict(list)
    for e in sorted(entities, key=lambda e: e["entity_id"]):
        by_type[e["entity_type"]].append(e)
    out = []
    for ents in by_type.values():
        for i, e1 in enumerate(ents):
            for e2 in ents[i + 1:]:
                if rl.compute_similarity(
                        e1["name"], e2["name"], same_type=True,
                        use_phonetic=cfg.link_use_phonetic,
                        max_edit_distance=cfg.link_max_edit_distance,
                ) >= cfg.link_min_similarity:
                    out.append((e1["entity_id"], e2["entity_id"]))
    return sorted(out)


def compute_expected(rows: list[dict], seed: int) -> dict:
    """The oracle's tables, reduced to what the gate compares."""
    import random
    from graphrag_rs_spark.config import DEFAULT_CONFIG
    from graphrag_rs_spark.oracle import run_oracle_pipeline
    res = run_oracle_pipeline(rows, DEFAULT_CONFIG)
    sample = random.Random(seed).sample(
        res.entities, min(MERGE_SAMPLE, len(res.entities)))
    return {
        "raw_triples": sorted(res.triple_set(canonical=False)),
        "canonical_triples": sorted(res.triple_set(canonical=True)),
        "entities": sorted(tuple(e[c] for c in ENTITY_COLS)
                           for e in res.entities),
        "canonical_map": sorted(res.canonical_map.items()),
        "communities": sorted((c["entity_id"], c["community"])
                              for c in res.communities),
        "counts": {t: len(getattr(res, t)) for t in COUNTED_TABLES},
        "similar_pairs": similar_pairs(sample, DEFAULT_CONFIG),
        "chunks": [c["content"] for c in res.chunks],
    }


def ensure_expected(rows_fn, seed: int, key: str, cache_dir: str) -> dict:
    """Oracle tables for one input, computed once and cached as JSON."""
    path = os.path.join(cache_dir, "oracle", key + ".json")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(compute_expected(rows_fn(), seed), fh)
        os.replace(tmp, path)
    with open(path) as fh:
        return json.load(fh)


def _read(workdir: str, table: str, cols) -> list[tuple]:
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(workdir, table), columns=list(cols))
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def _compare(name: str, got: set, want: set, problems: list) -> None:
    if got != want:
        problems.append(f"{name}: {len(got - want)} extra, "
                        f"{len(want - got)} missing")


def check_tables(tables: dict, expected: dict) -> dict:
    """Gate one run's tables: {"triples", "entities", "communities",
    "canonical_triples", "canonical_map"} as lists of tuples, and
    "counts", the job's count summary."""
    problems = []
    for name, got, want in (("raw triples", "triples", "raw_triples"),
                            ("entities", "entities", "entities"),
                            ("communities", "communities", "communities")):
        _compare(name, set(tables[got]), set(map(tuple, expected[want])),
                 problems)
    for table, n in expected["counts"].items():
        if tables["counts"].get(table) != n:
            problems.append(f"count of {table}: "
                            f"{tables['counts'].get(table)}, oracle {n}")
    canon = set(tables["canonical_triples"])
    want_canon = set(map(tuple, expected["canonical_triples"]))
    hit = len(canon & want_canon)
    to_canon = dict(tables["canonical_map"])
    pairs = expected["similar_pairs"]
    merged = sum(to_canon.get(a, a) == to_canon.get(b, b) for a, b in pairs)
    return {
        "ok": not problems,
        "problems": problems,
        "canon_triple_p": hit / len(canon) if canon else 0.0,
        "canon_triple_r": hit / len(want_canon) if want_canon else 0.0,
        "merge_recall": merged / len(pairs) if pairs else 1.0,
    }


def check_workdir(workdir: str, counts: dict, expected: dict) -> dict:
    """Read a finished job's tables from its workdir and gate them with
    the count summary the job returned."""
    spo = ("subj", "pred", "obj")
    return check_tables({
        "triples": _read(workdir, "triples", spo),
        "entities": _read(workdir, "entities", ENTITY_COLS),
        "communities": _read(workdir, "communities",
                             ("entity_id", "community")),
        "canonical_triples": _read(workdir, "canonical_triples", spo),
        "canonical_map": _read(workdir, "canonical_map",
                               ("entity_id", "canonical_id")),
        "counts": counts,
    }, expected)
