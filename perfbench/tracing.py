"""Outside-in tracing: spans around the engine's public functions, a
``MetricsLog`` collector, and a Spark event-log reader.

Nothing in ``sparkrec`` is modified: ``Tracer.install`` swaps module and
class attributes for timing wrappers and ``Tracer.uninstall`` puts the
originals back. Spans are kept in memory and written when the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    """In-memory spans: id, name, start, end, parent, request id, plus
    per-span counters set by the wrappers."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self.request: str | None = None

    def begin(self, name: str) -> dict:
        span = {
            "id": len(self.spans),
            "name": name,
            "start": time.monotonic(),
            "end": None,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "req": self.request,
        }
        self.spans.append(span)
        self._stack.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.monotonic()
        popped = self._stack.pop()
        assert popped is span, "spans must nest"

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper. ``count(span,
        args, result)`` may add counters to the span."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            s = self.begin(name)
            try:
                result = orig(*args, **kwargs)
            finally:
                self.end(s)
            if count is not None:
                count(s, args, result)
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self, spark) -> None:
        """Wrap the retrieval-path layers named in README.md."""
        from sparkrec.functions import textprep
        from sparkrec.operators import compaction, indexer, scorer
        from sparkrec.streaming import ingest

        def fetched(span, args, result):
            span["rows"] = len(result)

        def decoded(span, args, result):
            span["blocks"] = len(args[0])
            span["postings"] = int(sum(len(d) for d in result[0]))

        self.wrap(scorer, "bm25_query_topk_local", "scorer.bm25_query_topk_local")
        self.wrap(scorer, "wand_topk", "scorer.wand_topk")
        self.wrap(scorer, "_lex_lookup", "scorer._lex_lookup")
        self.wrap(scorer, "decode_postings_many", "codec.decode_postings_many",
                  decoded)
        self.wrap(textprep, "py_tokenize", "textprep.py_tokenize")
        self.wrap(type(spark.range(0)), "toPandas", "DataFrame.toPandas", fetched)
        self.wrap(indexer.Index, "warm", "Index.warm")
        self.wrap(indexer.Index, "refresh", "Index.refresh")
        self.wrap(indexer, "build_index", "indexer.build_index")
        self.wrap(ingest, "merge_index_delta", "ingest.merge_index_delta")
        self.wrap(compaction, "compact_postings", "compaction.compact_postings")

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str, extra: dict) -> None:
        """Write spans (with self times, ms) and ``extra`` as JSON."""
        from perfbench.metrics import self_times

        st = self_times(self.spans)
        spans = [{**s, "self_ms": 1000 * st[s["id"]]} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, default=str)


class JobGroups:
    """Tags Spark jobs with a job group so the event log can be split by
    layer. Also the ``collector`` handed to ``MetricsLog``: each stage
    record closes the current group and opens the next, so every build
    stage's jobs carry their own group id."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.current: str | None = None
        self._n = 0

    def set(self, group: str | None) -> None:
        if self.enabled:
            self.current = group
            self.sc.setJobGroup(group or "untagged", group or "untagged")

    def diff(self) -> dict:
        """``MetricsLog`` hook: called once per stage record."""
        done = self.current
        self._n += 1
        self.set(f"build.{self._n}")
        return {"job_group": done}


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Aggregate task metrics per job group from Spark's JSON event log.

    Returns group -> {jobs, tasks, task_s, cpu_s, gc_s, shuffle_write_bytes,
    shuffle_read_bytes, input_rows, spill_bytes}. A stage is attributed to
    the group of the first job that lists it.
    """
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    tasks: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id", "untagged")
                    jobs[group] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for g, n in jobs.items():
        out[g]["jobs"] += n
    for ev in tasks:
        group = stage_group.get(ev.get("Stage ID"), "untagged")
        m = ev.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        inp = m.get("Input Metrics") or {}
        agg = out[group]
        agg["tasks"] += 1
        agg["task_s"] += m.get("Executor Run Time", 0) / 1e3
        agg["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        agg["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        agg["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
        agg["input_rows"] += inp.get("Records Read", 0)
        agg["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
    return {g: dict(v) for g, v in out.items()}
