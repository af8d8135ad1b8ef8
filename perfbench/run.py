#!/usr/bin/env python3
"""sparkrec retrieval benchmark — one closed-loop caller, one driver.

    python3 perfbench/run.py --workload point --seed 1 --seconds 10 --trace 0

Builds an index over a seeded corpus, then serves point queries, batch
queries (default group path and scan path), merges deltas with a
refresh + freshness probe each, and compacts — timing every step from
outside the engine. Every answer is checked (README.md, "Checks"); the
last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 1`` reports the per-layer metrics
instead and writes the spans to ``.perfbench/out``. The exit code is
non-zero when any check fails.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.metrics import (  # noqa: E402
    DETERMINISTIC,
    END_TO_END,
    PER_LAYER,
    median,
    rows_by_query,
    same_answer,
    self_times,
    tail_percentile,
)
from perfbench.tracing import JobGroups, Tracer, read_event_log  # noqa: E402

K = 10  # top-k of every query


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def dir_bytes(path: str, suffix: str = ".parquet") -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files if f.endswith(suffix)
    )


def count_files(path: str, suffix: str = ".parquet") -> int:
    return sum(f.endswith(suffix) for _, _, files in os.walk(path) for f in files)


def source_id() -> str:
    """Commit id when the checkout is a git repository, else a digest of
    the engine sources (the benchmark may run from a plain export)."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            return subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.md5()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "sparkrec"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return "src-md5:" + h.hexdigest()


def repeat_check(previous: str, layer: dict) -> dict:
    """Compare the deterministic counters with the previous traced run
    of the same workload and seed in this checkout, if there is one."""

    if not os.path.exists(previous):
        return {"previous": None}
    with open(previous) as f:
        before = json.load(f)["per_layer"]
    differ = {k: [before.get(k), layer[k]] for k in DETERMINISTIC
              if before.get(k) != layer[k]}
    return {"previous": previous, "identical": not differ, "differ": differ}


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def batch_paths() -> dict:
    """The two batch paths: the default (group) one and the scan one."""
    from sparkrec.operators import scorer

    return {"group": scorer.bm25_query_topk, "scan": scorer.bm25_query_topk_scan}


class Bench:
    def __init__(self, args, wl):
        self.args = args
        self.wl = wl
        self.shape = wl.shape
        self.work = os.path.join(
            ROOT, ".perfbench", f"{wl.name}-s{args.seed}-t{args.trace}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        os.makedirs(os.path.join(self.work, "events"))
        self.index_root = os.path.join(self.work, "index")
        self.attempted = 0
        self.failures: list[str] = []
        self.m: dict[str, float] = {}  # end-to-end values
        self.layer: dict[str, float] = {}  # per-layer values
        self.info: dict = {}
        self.tracer = None

    # -- bookkeeping -------------------------------------------------------
    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"CHECK FAILED: {what}", file=sys.stderr)

    def call(self, what: str, fn, *a, **kw):
        """Run one step; an exception is recorded as a failure."""
        try:
            return fn(*a, **kw)
        except Exception:  # noqa: BLE001 — a failed operation is a result
            self.fail(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    def op(self, what: str, fn, *a, **kw):
        """One attempted operation."""
        self.attempted += 1
        return self.call(what, fn, *a, **kw)

    def request(self, rid: str | None) -> None:
        if self.tracer is not None:
            self.tracer.request = rid

    # -- phases ------------------------------------------------------------
    def start_session(self) -> None:
        from sparkrec.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["TMPDIR"] = tmp
        nproc = len(os.sched_getaffinity(0))
        conf = {
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(self.work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.monotonic()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{nproc}]",
            shuffle_partitions=2 * nproc, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.monotonic() - t0
        self.info.update(nproc=nproc, master=f"local[{nproc}]")
        self.groups = JobGroups(self.spark.sparkContext, bool(self.args.trace))
        if self.args.trace:
            self.tracer = Tracer()
            self.tracer.install(self.spark)

    def build(self) -> None:
        from pyspark.sql import functions as F

        from sparkrec.datagen import transcripts_df
        from sparkrec.operators import indexer
        from sparkrec.plans.manifest import MetricsLog

        from perfbench.workload import N_CONVS

        spark = self.spark
        tr = transcripts_df(spark, N_CONVS, base_seed=self.args.seed).cache()
        row = tr.agg(F.count(F.lit(1)), F.sum(F.octet_length("text"))).collect()[0]
        self.n_turns, text_bytes = int(row[0]), int(row[1])
        log = (MetricsLog(self.index_root, collector=self.groups)
               if self.args.trace else None)
        # timed in the fresh JVM, as a build job runs; it also warms the
        # JVM for every phase after it
        self.groups.set("build.0")
        t0 = time.monotonic()
        self.op("build_index", indexer.build_index, spark, tr, self.index_root,
                indexer.IndexConfig(), overwrite=True, metrics=log)
        build_s = time.monotonic() - t0
        self.groups.set(None)
        tr.unpersist()
        self.m["build_turns_per_s"] = self.n_turns / build_s
        post = os.path.join(self.index_root, "postings")
        self.m["index_bytes_per_text_byte"] = dir_bytes(self.index_root) / text_bytes
        self.info.update(n_turns=self.n_turns, text_bytes=text_bytes, build_s=build_s)
        if self.args.trace:
            self.build_stages = [s for s in log.stages if s["status"] == "completed"]
            for s in self.build_stages:
                self.layer[f"indexer.{s['stage']}_s"] = s["wall_sec"]
            prow = indexer.Index.load(spark, self.index_root).postings(spark).agg(
                F.count(F.lit(1)), F.sum("n")).collect()[0]
            self.layer["indexer.block_rows"] = float(prow[0])
            self.layer["indexer.bytes_per_posting"] = dir_bytes(post) / int(prow[1])
            self.layer["tables.postings_files"] = float(count_files(post))

    def setup(self, passes: int = 3) -> None:
        """Serving set-up, repeated: load the handle and warm it (lexicon
        always, postings when the workload pins them). Each pass starts
        from released caches so no pass measures a cache hit."""
        from sparkrec.operators.indexer import Index

        spark = self.spark
        walls = []
        for i in range(passes):
            t0 = time.monotonic()
            idx = Index.load(spark, self.index_root)
            idx.warm(spark, postings=self.shape.pinned)
            walls.append(time.monotonic() - t0)
            if i < passes - 1:
                idx.lexicon(spark).unpersist(blocking=True)
                idx.postings(spark).unpersist(blocking=True)
        self.idx = idx
        self.m["setup_s"] = median(walls)
        self.info["setup_walls_s"] = walls

    def point(self, text: str, qid: str):
        from sparkrec.operators import scorer

        return scorer.bm25_query_topk_local(self.spark, self.idx, [(qid, text)], K)

    @contextlib.contextmanager
    def untraced(self):
        """Remove the span wrappers around batch calls: their kernels run
        in Python workers, and a wrapper captured by a UDF closure would
        be pickled into every task. Their per-layer figures come from the
        event log and the run's own timestamps."""
        if self.tracer is None:
            yield
            return
        self.tracer.uninstall()
        try:
            yield
        finally:
            self.tracer.install(self.spark)

    def batch_call(self, mode: str, fn, batch, group: str | None = None):
        """One batch through one path, collected with ``toPandas``: the
        wall until the lazy DataFrame returns, the total wall, and the
        answers (None on failure). Every batch entry is one operation.
        Its jobs go to the job groups ``<group>.prep`` and ``<group>``
        (default: the path's name)."""
        group = group or mode
        self.attempted += len(batch)
        with self.untraced():
            self.groups.set(f"{group}.prep")
            t0 = time.monotonic()
            df = self.call(f"{mode} batch", fn, self.spark, self.idx, batch, K)
            t1 = time.monotonic()
            self.groups.set(group)
            pdf = None if df is None else self.call(f"{mode} collect", df.toPandas)
            t2 = time.monotonic()
            self.groups.set(None)
        return t1 - t0, t2 - t0, pdf

    def warmup(self) -> None:
        """Untimed: the warm-up queries one at a time through the point
        path, then the batch once through each batch path, so the
        measured rounds do not pay the first calls of a path (plan
        compilation, Python worker start), which run up to twice as long
        as later ones."""
        self.groups.set("warmup")
        for qid, text in self.wl.warmup:
            self.op(f"warm-up {qid}", self.point, text, qid)
        for mode, fn in batch_paths().items():
            self.batch_call(mode, fn, self.wl.batch, group="warmup")
        self.groups.set(None)

    def measure(self) -> None:
        """One fixed round of operations, repeated until ``--seconds``
        have passed and at least ``min_rounds`` rounds have run: the next
        ``per_round`` distinct point queries one at a time, then the batch
        through the group path and through the scan path. The clock is
        checked before every operation, so the sample counts grow
        smoothly with the window. Interleaved, every metric samples the
        whole window, so a burst of hypervisor steal lands on all of them
        alike; each metric is a median over the window."""
        sh, batch, pool = self.shape, self.wl.batch, self.wl.point
        fns = batch_paths()
        round_ = ["point"] * sh.per_round + list(fns)
        lat, walls, prep = [], {m: [] for m in fns}, {m: [] for m in fns}
        calls = dict.fromkeys(fns, 0)
        self.point_answers, self.batch_answers = {}, {}
        n, nxt = 0, 0
        deadline = time.monotonic() + self.args.seconds
        while n < sh.min_rounds * len(round_) or time.monotonic() < deadline:
            step = round_[n % len(round_)]
            n += 1
            if step == "point":
                if nxt == len(pool):
                    break
                qid, text = pool[nxt]
                self.groups.set("point" if nxt < sh.point_min else "point.rest")
                self.request(qid)
                t0 = time.monotonic()
                res = self.op(f"point {qid}", self.point, text, qid)
                lat.append(time.monotonic() - t0)
                self.request(None)
                self.groups.set(None)
                nxt += 1
                if res is not None:
                    self.point_answers[qid] = rows_by_query(res).get(qid, [])
                continue
            calls[step] += 1
            p, w, pdf = self.batch_call(step, fns[step], batch)
            if pdf is not None:
                walls[step].append(w)
                prep[step].append(p)
                self.batch_answers.setdefault(step, rows_by_query(pdf))
        self.point_lat_ms = [1000 * x for x in lat]
        self.m["query_p50_ms"] = median(self.point_lat_ms)
        pct, val = tail_percentile(self.point_lat_ms)
        self.layer["query.tail_ms"] = val
        self.layer["query.tail_pct"] = pct
        self.layer["query.samples"] = float(len(lat))
        for mode, key in (("group", "batch_qps"), ("scan", "scan_qps")):
            self.m[key] = len(batch) / median(walls[mode])
            self.layer[f"{mode}.prep_s"] = median(prep[mode])
            self.layer[f"{mode}.exec_s"] = median(
                [w - p for w, p in zip(walls[mode], prep[mode])])
        self.info.update(point_queries=len(lat), point_lat_ms=self.point_lat_ms,
                         point_mix=self.wl.mix(), batch_calls=calls,
                         batch_size=len(batch), batch_walls_s=walls,
                         batch_repeat_share=self.wl.batch_repeat_share())

    def read_many(self, what: str, queries: list[tuple[str, str]]) -> dict:
        """Answers of several queries from one point-path call (a check,
        not a measurement)."""
        from sparkrec.operators import scorer

        self.attempted += len(queries)
        res = self.call(what, scorer.bm25_query_topk_local, self.spark, self.idx,
                        queries, K)
        if res is None:
            return {}
        got = rows_by_query(res)
        return {qid: got.get(qid, []) for qid, _ in queries}

    def ingest(self) -> None:
        from sparkrec.datagen import transcripts_df
        from sparkrec.streaming import ingest

        spark = self.spark
        merge_s, refresh_s, visible_s, turns = [], [], [], 0
        for i, ((start, n), probe) in enumerate(zip(self.wl.deltas, self.wl.probes)):
            delta = transcripts_df(spark, n, base_seed=self.args.seed,
                                   conv_start=start).cache()
            n_turns = delta.count()
            n_before = self.idx.n_docs
            self.request(f"merge.{i}")
            self.groups.set("merge")
            t0 = time.monotonic()
            self.op("merge_index_delta", ingest.merge_index_delta, spark, delta,
                    self.index_root)
            t1 = time.monotonic()
            self.groups.set("refresh")
            idx = self.op("refresh", self.idx.refresh, spark)
            t2 = time.monotonic()
            self.groups.set(None)
            if idx is not None:
                self.idx = idx
            res = self.op(f"probe {probe}", self.point, probe, f"probe{i}")
            t3 = time.monotonic()
            self.request(None)
            delta.unpersist()
            hits = [] if res is None else rows_by_query(res).get(f"probe{i}", [])
            if not hits or min(d for d, _ in hits) < n_before:
                self.fail(f"freshness probe {probe}: {hits[:3]} (n_docs before "
                          f"{n_before})")
            merge_s.append(t1 - t0)
            refresh_s.append(t2 - t1)
            visible_s.append(t3 - t0)
            turns += n_turns
        self.layer["ingest.merge_turns_per_s"] = turns / sum(merge_s)
        self.layer["ingest.visible_s"] = median(visible_s)
        self.layer["ingest.merge_s"] = median(merge_s)
        self.layer["indexer.refresh_s"] = median(refresh_s)
        self.info.update(merges=len(merge_s), delta_turns=turns)

    def compact(self) -> None:
        from pyspark.sql import functions as F

        from sparkrec.operators import compaction

        spark = self.spark
        before = self.read_many("read before compaction", self.wl.burst)
        split = (self.idx.postings(spark).groupBy("term", "block_id").count()
                 .filter(F.col("count") > 1).agg(F.sum("count")).collect()[0][0])
        self.layer["ingest.split_block_rows"] = float(split or 0)
        self.request("compact")
        self.groups.set("compact")
        t0 = time.monotonic()
        info = self.op("compact_postings", compaction.compact_postings, spark,
                       self.index_root)
        self.layer["compaction.s"] = time.monotonic() - t0
        self.groups.set(None)
        self.request(None)
        idx = self.op("refresh after compaction", self.idx.refresh, spark)
        if idx is not None:
            self.idx = idx
        after = self.read_many("read after compaction", self.wl.burst)
        for qid in before:
            self.attempted += 1
            if after.get(qid) != before[qid]:
                self.fail(f"{qid}: answer changed by compact_postings")
        if info:
            for k in ("rows_before", "rows_after", "files_before", "files_after"):
                self.layer[f"compaction.{k}"] = float(info[k])
            self.layer["compaction.bytes_rewritten"] = float(
                dir_bytes(os.path.join(self.index_root, "postings")))

    # -- checks (outside every timed region) -------------------------------
    def check_paths(self) -> None:
        """Point == group == scan, ids and scores bit-identical."""
        batch_id = {text: qid for qid, text in self.wl.batch}
        texts = dict(self.wl.point)
        answers = {q: rows for q, rows in self.point_answers.items()
                   if texts[q] in batch_id}
        group = self.batch_answers.get("group", {})
        scan = self.batch_answers.get("scan", {})
        for qid, got in answers.items():
            bid = batch_id[texts[qid]]
            for mode, res in (("group", group), ("scan", scan)):
                self.attempted += 1
                if not same_answer(got, res.get(bid, [])):
                    self.fail(f"{qid}: point {got[:2]} != {mode} {res.get(bid, [])[:2]}")
        for qid, _ in self.wl.batch:
            self.attempted += 1
            if not same_answer(group.get(qid, []), scan.get(qid, [])):
                self.fail(f"{qid}: group != scan")

    def check_oracle(self) -> None:
        """A query sample on the final index (in traced runs merged and
        compacted, with the freshness probes added) against the
        pure-Python BM25 oracle fitted from the docs table."""
        from sparkrec.oracle import BM25Oracle

        queries = list(self.wl.oracle)
        if self.args.trace:
            queries += [(f"probe{i}", t) for i, t in enumerate(self.wl.probes)]
        docs = self.idx.docs(self.spark).select("doc_id", "tokens").toPandas()
        oracle = BM25Oracle().fit(
            {int(d): " ".join(t) for d, t in zip(docs["doc_id"], docs["tokens"])})
        answers = self.read_many("oracle sample", queries)
        for qid, text in queries:
            if qid not in answers:
                continue
            got, want = answers[qid], oracle.topk(text, K)
            self.attempted += 1
            if not same_answer(got, want, rel=1e-9):
                self.fail(f"{qid}: engine {got[:2]} != oracle {want[:2]}")

    # -- traced-run layer metrics -----------------------------------------
    def layer_from_spans(self) -> None:
        spans = self.tracer.spans
        st = self_times(spans)
        prefix = {qid for qid, _ in self.wl.point[: self.shape.point_min]}
        per_q: dict[str, dict[str, float]] = {}
        for s in spans:
            if s["req"] not in prefix:
                continue
            q = per_q.setdefault(s["req"], {})
            q[s["name"]] = q.get(s["name"], 0.0) + 1000 * st[s["id"]]
            for c in ("rows", "blocks", "postings"):
                if c in s:
                    key = f"{s['name']}.{c}"
                    q[key] = q.get(key, 0.0) + s[c]
        names = {
            "scorer.fetch_ms": "DataFrame.toPandas",
            "scorer.plan_ms": "scorer.bm25_query_topk_local",
            "scorer.kernel_ms": "scorer.wand_topk",
            "scorer.lexicon_ms": "scorer._lex_lookup",
            "textprep.tokenize_ms": "textprep.py_tokenize",
            "codec.decode_ms": "codec.decode_postings_many",
        }
        for metric, span in names.items():
            self.layer[metric] = median([q.get(span, 0.0) for q in per_q.values()])
        n = len(per_q)
        fetched = sum(q.get("DataFrame.toPandas.rows", 0) for q in per_q.values())
        blocks = sum(q.get("codec.decode_postings_many.blocks", 0) for q in per_q.values())
        self.layer["scorer.blocks_fetched"] = fetched / n
        self.layer["codec.blocks_decoded"] = blocks / n
        self.layer["codec.postings_decoded"] = sum(
            q.get("codec.decode_postings_many.postings", 0) for q in per_q.values()) / n
        self.layer["scorer.decode_ratio"] = blocks / fetched if fetched else 0.0

    def layer_from_events(self) -> None:
        ev = read_event_log(os.path.join(self.work, "events"))
        self.info["event_groups"] = ev

        def g(group, key):
            return float(ev.get(group, {}).get(key, 0.0))

        n_point = self.shape.point_min
        self.layer["spark.jobs_per_query"] = g("point", "jobs") / n_point
        self.layer["spark.tasks_per_query"] = g("point", "tasks") / n_point
        calls = self.info["batch_calls"]
        for mode in ("group", "scan"):
            for key in ("shuffle_write_bytes", "shuffle_read_bytes", "input_rows",
                        "task_s", "cpu_s", "gc_s", "spill_bytes", "tasks"):
                self.layer[f"{mode}.{key}"] = (
                    g(mode, key) + g(f"{mode}.prep", key)) / calls[mode]
        for s in self.build_stages:
            grp = s.get("job_group")
            self.layer[f"indexer.{s['stage']}_shuffle_bytes"] = g(grp, "shuffle_write_bytes")
            self.layer[f"indexer.{s['stage']}_task_s"] = g(grp, "task_s")
        merges = self.info["merges"]
        self.layer["ingest.shuffle_bytes"] = g("merge", "shuffle_write_bytes") / merges
        self.layer["ingest.task_s"] = g("merge", "task_s") / merges
        self.layer["spark.gc_s"] = sum(v.get("gc_s", 0.0) for v in ev.values())

    # -- one run -----------------------------------------------------------
    def run(self) -> None:
        phases = {}

        def phase(name, fn):
            t0 = time.monotonic()
            fn()
            phases[name] = time.monotonic() - t0

        phase("session", self.start_session)
        jvm = self.spark.sparkContext._gateway.proc
        names = ["build", "setup", "warmup", "measure"]
        if self.args.trace:
            names += ["ingest", "compact"]
        for name in names:
            phase(name, getattr(self, name))
        self.info["phase_s"] = phases
        if self.tracer is not None:
            self.tracer.uninstall()
        # peaks before the checks: the oracle's Python index is the
        # benchmark's memory, not the engine's
        self.m["py_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        self.layer["jvm.rss_mb"] = peak_rss_mb(jvm.pid)
        phase("check_paths", self.check_paths)
        phase("check_oracle", self.check_oracle)
        phase("stop", lambda: self.stop(jvm))
        if self.args.trace:
            self.layer_from_spans()
            self.layer_from_events()
            self.layer["trace.query_p50_ms"] = self.m["query_p50_ms"]

    def stop(self, jvm) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers it started) to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if jvm.stdin is not None:
            jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sparkrec")):
        print(f"sparkrec sources not found under {ROOT}", file=sys.stderr)
        return 2
    from jobs.bench_scaling import StealSampler

    from perfbench import workload

    if args.workload not in workload.SHAPES:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workload.SHAPES)}", file=sys.stderr)
        return 2
    t_start = time.monotonic()
    steal = StealSampler()
    steal.start()
    wl = workload.make(args.workload, args.seed)
    bench = Bench(args, wl)
    try:
        bench.run()
    finally:
        steal_info = steal.stop()
    failed = len(bench.failures)
    bench.m["correct_ratio"] = 1.0 - failed / bench.attempted
    chosen, values = (PER_LAYER, bench.layer) if args.trace else (END_TO_END, bench.m)
    missing = sorted(set(chosen) - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    meta = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "commit": source_id(),
        "wall_s": time.monotonic() - t_start,
        "steal_mean_vcpu": steal_info["steal_mean_vcpu"],
        "steal_burst10_vcpu": steal_info["steal_burst10_vcpu"],
        **bench.info,
    }
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    record = {"meta": meta, "end_to_end": bench.m, "per_layer": bench.layer,
              "error_ratio": failed / bench.attempted, "failures": bench.failures}
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    if bench.tracer is not None:
        record["counters_repeat"] = repeat_check(
            os.path.join(out_dir, name + ".json"), bench.layer)
        bench.tracer.dump(os.path.join(out_dir, name + ".trace.json"), record)
    with open(os.path.join(out_dir, name + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(bench.work, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"{meta['master']} commit={meta['commit'][:16]} "
          f"steal={meta['steal_mean_vcpu']} wall={meta['wall_s']:.1f}s",
          file=sys.stderr)
    print(f"#   error_ratio = {failed / bench.attempted:.6g} "
          f"({failed}/{bench.attempted})", file=sys.stderr)
    if "counters_repeat" in record:
        print(f"#   deterministic counters vs previous traced run: "
              f"{record['counters_repeat']}", file=sys.stderr)
    for k in sorted(chosen):
        print(f"#   {k} = {values[k]:.6g} {chosen[k]}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in chosen.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
