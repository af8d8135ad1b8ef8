"""Metric catalog, summary statistics, self-time arithmetic and answer
comparison — pure Python, no Spark, so the self-tests run in seconds."""

from __future__ import annotations

import json
import math
import os
import statistics

_SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "BENCHMARK.json")
with open(_SPEC) as _f:
    _spec = json.load(_f)

# name -> unit, as listed in BENCHMARK.json. Every workload reports every
# end-to-end metric (untraced run) and every per-layer metric (traced run).
END_TO_END = {m["name"]: m["unit"] for m in _spec["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _spec["per_layer"]}
WORKLOADS = [w["name"] for w in _spec["workloads"]]

# per-layer counters that are a pure function of (workload, seed): two
# traced runs with the same arguments must report them identically
DETERMINISTIC = (
    "scorer.blocks_fetched",
    "codec.blocks_decoded",
    "codec.postings_decoded",
    "scorer.decode_ratio",
    "spark.jobs_per_query",
    "spark.tasks_per_query",
    "group.input_rows",
    "group.tasks",
    "scan.input_rows",
    "scan.tasks",
    "indexer.block_rows",
    "compaction.rows_before",
    "compaction.rows_after",
    "compaction.files_before",
    "compaction.files_after",
    "ingest.split_block_rows",
    "tables.postings_files",
)


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(values, beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns (percent, value) using the nearest-rank definition: with n
    sorted samples the value at rank n - beyond (1-based) has exactly
    ``beyond`` samples beyond it. Fewer than beyond + 1 samples give the
    minimum, i.e. no tail can be claimed.
    """
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, len(xs) - beyond)
    return 100.0 * rank / len(xs), float(xs[rank - 1])


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by its children.

    A span is ``{"id", "parent", "start", "end", ...}``. Children are
    clipped to their parent's interval and overlapping children are
    counted once (union of intervals), so the result is never negative.
    """
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = max(0.0, (hi - lo) - covered)
    return out


def rows_by_query(pdf) -> dict[str, list[tuple[int, float]]]:
    """(query_id, rank, doc_id, score) frame -> qid -> [(doc_id, score)]
    in rank order."""
    out: dict[str, list[tuple[int, int, float]]] = {}
    for qid, rank, doc, score in zip(
        pdf["query_id"], pdf["rank"], pdf["doc_id"], pdf["score"]
    ):
        out.setdefault(str(qid), []).append((int(rank), int(doc), float(score)))
    return {q: [(d, s) for _, d, s in sorted(v)] for q, v in out.items()}


def same_answer(got, want, rel: float = 0.0) -> bool:
    """Equal doc ids in the same order and equal scores: bit-identical
    with ``rel=0``, else within a relative tolerance."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return False
    for (_, a), (_, b) in zip(got, want):
        if rel == 0.0:
            if a != b:
                return False
        elif not math.isclose(a, b, rel_tol=rel, abs_tol=0.0):
            return False
    return True
