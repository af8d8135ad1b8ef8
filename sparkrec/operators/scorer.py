"""Query-time BM25 scoring: exact document-at-a-time with block-max pruning.

Replaces the reference's dense N×N similarity lookup + sort
(model.py:280-285 + 372-383) with index-time pruning (SURVEY.md §4.2.3).

The numpy kernel (``wand_topk``) is an exact block-max WAND variant over
*doc-aligned* blocks (operators/indexer.py): because every term's blocks
are cut at the same doc-id boundaries, a block id ``g`` denotes a
score-complete doc segment — decoding all query-term blocks with id ``g``
yields final scores for every doc in the segment. The kernel therefore:

1. computes a per-segment upper bound
   UB(g) = Σ_t qtf·idf_t·bm25_weight(max_tf(t,g), min_dl(t,g), avgdl_now)
   — derived at query time from the stored (max_tf, min_dl) block
   metadata under the CURRENT corpus avgdl (see ``wand_topk`` docstring)
2. visits segments in descending UB order, chunk-at-a-time, maintaining a
   running top-k threshold θ,
3. stops as soon as the next segment's UB < θ (or ≤ θ with a full heap and
   no possible tie improvement) — never decoding the skipped blocks.

Everything is vectorized: decode is the batched varint codec; per-segment
accumulation is sort + reduceat. Exactness is tested against both the
exhaustive DataFrame path and the pure-Python oracle.

All three entry points share one pipeline: ``_plan`` (freshness check,
tokenize, dedup, lexicon) → ``_blocks`` (the pruned block scan) → a
module-level kernel (``wand_topk`` per query, or ``_score_range`` per
doc range) built from the same per-doc sum, trim and ranking helpers.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sparkrec.operators.codec import bm25_weight, decode_postings_many
from sparkrec.operators.indexer import Index

TOPK_SCHEMA = "query_id string, rank int, doc_id long, score double"
_ENC_COLS = ["docs_enc", "tfs_enc", "dls_enc"]
_WAND_COLS = ["term", "block_id", "max_tf", "min_dl", *_ENC_COLS]


def _doc_sums(docs: np.ndarray, w: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc score sums: stable sort by doc, then reduceat — the
    accumulation order is fixed by the input row order."""
    srt = np.argsort(docs, kind="stable")
    sd, sw = docs[srt], w[srt]
    starts = np.flatnonzero(np.concatenate(([True], sd[1:] != sd[:-1])))
    return sd[starts], np.add.reduceat(sw, starts)


def _trim(doc_ids: np.ndarray, scores: np.ndarray, k: int):
    """The top k scores, keeping every tie with the k-th so the doc_id asc
    tie-break stays exact across segment and range boundaries."""
    if len(scores) > k:
        thr = np.partition(-scores, k - 1)[k - 1]
        keep = np.flatnonzero(-scores <= thr)
        doc_ids, scores = doc_ids[keep], scores[keep]
    return doc_ids, scores


def _ranked(qid, doc_ids: np.ndarray, scores: np.ndarray, k: int) -> pd.DataFrame:
    """TOPK_SCHEMA rows: the first k by (score desc, doc_id asc)."""
    order = np.lexsort((doc_ids, -scores))[:k]
    return pd.DataFrame(
        {
            "query_id": qid,
            "rank": np.arange(1, len(order) + 1, dtype=np.int32),
            "doc_id": doc_ids[order],
            "score": scores[order],
        }
    )


def wand_topk(
    blocks: pd.DataFrame, term_meta: dict[str, tuple[float, int]], k: int,
    avgdl: float, k1: float, b: float,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k over one query's posting blocks.

    ``blocks``: columns term, block_id, max_tf, min_dl, docs_enc, tfs_enc,
    dls_enc (all blocks of all query terms). ``term_meta``: term →
    (idf, qtf). Returns (doc_ids, scores) sorted (score desc, doc_id asc).

    The per-block upper bound is computed HERE from (max_tf, min_dl) and
    the *current* corpus avgdl — bm25_weight is monotone ↑ in tf, ↓ in
    dl, so f(max_tf, min_dl) dominates every posting in the block. Unlike
    a build-time max_weight, this bound stays safe after incremental
    merges move avgdl (streaming/ingest.py).
    """
    if len(blocks) == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64)

    # canonical row order: per-doc float accumulation below follows row
    # order (stable argsort), so without this sort the last bits of a
    # multi-term doc's score would depend on Spark's group-row arrival
    # order. Sorting by (term, block_id) makes scores a pure function of
    # the query + index at ANY parallelism/arrival order, and is the
    # same per-doc term-major order the range kernel uses
    # (``_score_range``) — the two paths agree bit-for-bit.
    blocks = blocks.sort_values(
        ["term", "block_id"], kind="mergesort", ignore_index=True
    )

    factor = np.array(
        [term_meta[t][0] * term_meta[t][1] for t in blocks["term"]], dtype=np.float64
    )
    ub_weight = bm25_weight(
        blocks["max_tf"].to_numpy(dtype=np.int64),
        blocks["min_dl"].to_numpy(dtype=np.int64),
        avgdl, k1, b,
    )

    # per-segment upper bounds
    seg_ids, seg_inv = np.unique(
        blocks["block_id"].to_numpy(dtype=np.int64), return_inverse=True
    )
    seg_ub = np.zeros(len(seg_ids), dtype=np.float64)
    np.add.at(seg_ub, seg_inv, factor * ub_weight)

    order = np.argsort(-seg_ub, kind="stable")  # segments by UB desc

    top_docs = np.zeros(0, dtype=np.int64)
    top_scores = np.zeros(0, dtype=np.float64)
    theta = -np.inf
    visited = 0
    chunk = max(8, 2 * k)

    encs = [blocks[c].to_numpy(dtype=object) for c in _ENC_COLS]

    while visited < len(order):
        take = order[visited : visited + chunk]
        # early exit: all remaining segments bounded below current θ
        if len(top_scores) >= k and seg_ub[take[0]] < theta:
            break
        take = take[(seg_ub[take] >= theta) | (len(top_scores) < k)]
        if len(take) == 0:
            break
        visited += chunk

        # every segment in ``take`` has rows, so ``idx`` is never empty
        idx = np.flatnonzero(np.isin(seg_inv, take))
        d_lists, t_lists, l_lists = decode_postings_many(
            *([enc[i] for i in idx] for enc in encs)
        )
        lens = np.array([len(x) for x in d_lists], dtype=np.int64)
        flat_docs = np.concatenate(d_lists).astype(np.int64)
        w = bm25_weight(np.concatenate(t_lists), np.concatenate(l_lists),
                        avgdl, k1, b)
        w *= np.repeat(factor[idx], lens)

        # merge the chunk's per-doc sums into the running top-k
        seg_doc_ids, seg_scores = _doc_sums(flat_docs, w)
        top_docs, top_scores = _trim(
            np.concatenate((top_docs, seg_doc_ids)),
            np.concatenate((top_scores, seg_scores)),
            k,
        )
        if len(top_scores) >= k:
            theta = -np.partition(-top_scores, k - 1)[k - 1]

    # final exact ordering: score desc, doc_id asc
    order = np.lexsort((top_docs, -top_scores))[:k]
    return top_docs[order], top_scores[order]


def _score_group(
    pdf: pd.DataFrame, k: int, avgdl: float, k1: float, b: float
) -> pd.DataFrame:
    """Group-mode kernel: one query's joined block rows (with its idf and
    qtf per term) → that query's top-k via ``wand_topk``."""
    meta = {t: (float(idf), int(qtf))
            for t, idf, qtf in zip(pdf["term"], pdf["idf"], pdf["qtf"])}
    doc_ids, scores = wand_topk(pdf, meta, k, avgdl, k1, b)
    return _ranked(pdf["query_id"].iloc[0], doc_ids, scores, k)


def _score_range(
    pdf: pd.DataFrame, q_items: list, k: int, avgdl: float, k1: float, b: float
) -> pd.DataFrame:
    """Range-mode kernel: every query in ``q_items`` (query_id → {term:
    (idf, qtf)}) scored exhaustively over one doc-range group's blocks.

    Canonical (term, block_id) row order, then every block is decoded
    ONCE; per-posting bm25 weights are query-independent, so they are
    computed once per term too — per query only its factor-scaled
    gather + per-doc sum remains."""
    pdf = pdf.sort_values(["term", "block_id"], kind="mergesort", ignore_index=True)
    d_lists, t_lists, l_lists = decode_postings_many(
        *(list(pdf[c]) for c in _ENC_COLS)
    )
    terms = pdf["term"].to_numpy(dtype=object)
    cuts = np.flatnonzero(
        np.concatenate(([True], terms[1:] != terms[:-1], [True]))
    )
    term_dw: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for i, j in zip(cuts[:-1], cuts[1:]):
        term_dw[terms[i]] = (
            np.concatenate(d_lists[i:j]).astype(np.int64),
            bm25_weight(np.concatenate(t_lists[i:j]),
                        np.concatenate(l_lists[i:j]), avgdl, k1, b),
        )
    out = []
    for qid, meta in q_items:
        hit = [t for t in sorted(meta) if t in term_dw]
        if not hit:
            continue
        docs = np.concatenate([term_dw[t][0] for t in hit])
        w = np.concatenate(
            [term_dw[t][1] * (meta[t][0] * meta[t][1]) for t in hit]
        )
        out.append(_ranked(qid, *_trim(*_doc_sums(docs, w), k), k))
    return pd.concat(
        out or [_ranked(None, np.zeros(0, np.int64), np.zeros(0), k)],
        ignore_index=True,
    )


def _query_term_rows(
    queries: list[tuple[str, str]], min_token_len: int, remove_numeric: bool
) -> dict[str, list[tuple[str, int]]]:
    """Driver-side tokenization of the (tiny) query set — the same clean
    semantics as the corpus pipeline; no Spark job. Returns query_id →
    its term-sorted (term, qtf) pairs."""
    from collections import Counter

    from sparkrec.functions.textprep import py_tokenize

    rows: dict[str, list[tuple[str, int]]] = {}
    for qid, qtext in queries:
        toks = py_tokenize(
            qtext, min_token_len=min_token_len, remove_numeric=remove_numeric
        )
        rows.setdefault(qid, []).extend(sorted(Counter(toks).items()))
    return rows


def _lex_lookup(
    spark: SparkSession, index: Index, terms: list[str]
) -> tuple[dict[str, float], list[int]]:
    """term → idf plus the term-bucket list for partition pruning.

    Served from the warm driver-resident lexicon map when the vocabulary
    fits ``Index.LEX_DRIVER_CACHE_MAX`` (zero Spark jobs — the serving
    design keeps the lexicon in RAM); otherwise one pruned lexicon scan.
    """
    m = index._lexicon_map
    if m is not None:
        idf_map = {t: m[t][0] for t in terms if t in m}
        buckets = sorted({m[t][1] for t in idf_map})
        return idf_map, buckets
    lex_rows = (
        index.lexicon(spark)
        .filter(F.col("term").isin(terms))
        .select("term", "idf", "term_bucket")
        .collect()
    )
    return (
        {r["term"]: float(r["idf"]) for r in lex_rows},
        sorted({r["term_bucket"] for r in lex_rows}),
    )


def _plan(
    spark: SparkSession, index: Index, queries: list[tuple[str, str]],
    min_token_len: int, remove_numeric: bool,
) -> tuple[dict[str, dict[str, tuple[float, int]]], list[int], dict[str, str]]:
    """Freshness check, tokenize, dedup and lexicon lookup for a batch.

    Queries with the same post-tokenize term multiset share one
    representative query_id (its first occurrence in caller order —
    deterministic). Returns ``qmeta`` (representative → {term: (idf,
    qtf)} over its terms present in the lexicon; representatives with
    none are left out), the term buckets to scan, and ``rep_for_qid``
    (every query_id → its representative).
    """
    index.check_fresh()
    pairs = _query_term_rows(queries, min_token_len, remove_numeric)
    # the pairs are term-sorted, so their tuple is a canonical signature
    rep_of_sig: dict[tuple, str] = {}
    rep_for_qid = {
        qid: rep_of_sig.setdefault(tuple(p), qid) for qid, p in pairs.items()
    }
    terms = sorted({t for p in pairs.values() for t, _ in p})
    if not terms:
        return {}, [], rep_for_qid
    idf_map, buckets = _lex_lookup(spark, index, terms)
    qmeta = {}
    for rep in rep_of_sig.values():
        meta = {t: (float(idf_map[t]), qtf) for t, qtf in pairs[rep] if t in idf_map}
        if meta:
            qmeta[rep] = meta
    return qmeta, buckets, rep_for_qid


def _blocks(
    spark: SparkSession, index: Index, qmeta: dict, buckets: list[int], cols: list[str]
) -> DataFrame:
    """The pruned block scan: ``cols`` of the posting blocks of every
    term in ``qmeta``, term_bucket partition filter + pushed term filter."""
    live_terms = sorted({t for meta in qmeta.values() for t in meta})
    return (
        index.postings_for(spark, buckets)
        .filter(F.col("term_bucket").isin(buckets) & F.col("term").isin(live_terms))
        .select(*cols)
    )


def _fan_out_result(
    spark: SparkSession, result: DataFrame, rep_for_qid: dict[str, str]
) -> DataFrame:
    """Broadcast-join per-representative top-k back to every query_id
    (exact: the kernel is a pure function of the term vector + index).
    ``result`` is returned as is when no query repeats another."""
    if all(rep == qid for qid, rep in rep_for_qid.items()):
        return result
    mapping = spark.createDataFrame(
        sorted((rep, qid) for qid, rep in rep_for_qid.items()),
        "rep string, query_id string",
    )
    return (
        result.withColumnRenamed("query_id", "rep")
        .join(F.broadcast(mapping), "rep")
        .select("query_id", "rank", "doc_id", "score")
    )


def bm25_query_topk_local(
    spark: SparkSession, index: Index, queries: list[tuple[str, str]], k: int,
    min_token_len: int = 2, remove_numeric: bool = True,
    max_blocks: int = 100_000,
) -> pd.DataFrame:
    """Interactive single-digit-latency path: scatter-gather scoring.

    The partition-pruned, term-filtered posting blocks are collected to
    the driver and the SAME exact WAND kernel runs in-process — one Spark
    job (the pruned scan), zero shuffles, no Python-worker round-trip.
    Returns a pandas DataFrame (query_id, rank, doc_id, score), identical
    values to ``bm25_query_topk``. Queries with the same post-tokenize
    term multiset are scored once, as in the batch paths.

    Right for interactive point queries whose terms' posting volume is
    bounded (the common case — WAND needs block metadata + the blocks it
    actually decodes). A query over extreme hot terms can exceed the
    driver budget: above ``max_blocks`` fetched blocks this raises, and
    the caller should use the distributed path. At the 10^12-turn tier a
    serving layer would cache the hot blocks driver-side; here the cap
    keeps the fallback honest.
    """
    qmeta, buckets, rep_for_qid = _plan(
        spark, index, queries, min_token_len, remove_numeric
    )
    if not qmeta:
        return _ranked(None, np.zeros(0, np.int64), np.zeros(0), k)

    blocks = (
        _blocks(spark, index, qmeta, buckets, _WAND_COLS)
        .limit(max_blocks + 1)
        .toPandas()
    )
    if len(blocks) > max_blocks:
        raise ValueError(
            f"query touches > {max_blocks} posting blocks — use the "
            "distributed bm25_query_topk path"
        )

    top = {
        rep: wand_topk(blocks[blocks["term"].isin(meta.keys())], meta, k,
                       index.avgdl, index.k1, index.b)
        for rep, meta in qmeta.items()
    }
    return pd.concat(
        [_ranked(qid, *top[rep], k) for qid, rep in rep_for_qid.items() if rep in top],
        ignore_index=True,
    )


def bm25_query_topk(
    spark: SparkSession, index: Index, queries: list[tuple[str, str]], k: int,
    min_token_len: int = 2, remove_numeric: bool = True,
) -> DataFrame:
    """Batch top-k for a list of (query_id, text) against a built index.

    Plan: driver-side query tokenization (queries are tiny, no Spark job)
    → lexicon lookup filtered by term (+ its term_bucket for partition
    pruning) → partition-pruned posting-block scan → ``applyInPandas``
    groups running the exact WAND kernel → (query_id, rank, doc_id, score).

    Each query is ONE kernel group (lowest overhead, maximal WAND
    pruning — right for interactive latency at moderate posting volume).
    To split the scoring of fat analytical queries across doc ranges,
    use ``bm25_query_topk_scan``.

    Queries with the same post-tokenize term multiset are scored ONCE
    and fanned back out to every query_id with a broadcast join:
    group-by-query scoring replicates each shared posting block across
    the exchange once per query_id, so B duplicates would cost B× the
    shuffle bytes for bit-identical kernel output (the kernel is a pure
    function of the term vector and the index — measured on a 96k-conv
    index: an 80×-tiled batch is shuffle-bandwidth-bound, BENCH.md
    "Query-batch redundancy"). All-distinct batches skip the fan-out.
    """
    qmeta, buckets, rep_for_qid = _plan(
        spark, index, queries, min_token_len, remove_numeric
    )
    if not qmeta:
        return spark.createDataFrame([], TOPK_SCHEMA)

    q_with_idf = spark.createDataFrame(
        [(rep, t, qtf, idf)
         for rep, meta in qmeta.items() for t, (idf, qtf) in meta.items()],
        "query_id string, term string, qtf int, idf double",
    )
    joined = _blocks(spark, index, qmeta, buckets, _WAND_COLS).join(
        F.broadcast(q_with_idf), "term"
    )
    avgdl, k1, b = index.avgdl, index.k1, index.b
    result = joined.groupBy("query_id").applyInPandas(
        lambda pdf: _score_group(pdf, k, avgdl, k1, b), schema=TOPK_SCHEMA
    )
    return _fan_out_result(spark, result, rep_for_qid)


def bm25_query_topk_scan(
    spark: SparkSession, index: Index, queries: list[tuple[str, str]], k: int,
    min_token_len: int = 2, remove_numeric: bool = True,
    n_ranges: int | None = None,
) -> DataFrame:
    """Batch-analytic top-k: corpus-proportional (query-count-independent)
    shuffle for LARGE query batches.

    ``bm25_query_topk`` joins blocks×queries and groups by query_id, so
    every posting block crosses the exchange once PER query that touches
    its term — right for small/selective batches where block-max WAND
    skips most of the corpus, but for B analytical queries sharing hot
    terms the exchange carries B× the bytes (measured shuffle-bandwidth-
    bound at 10k queries, BENCH.md "Query-batch redundancy"). This path
    inverts the movement: queries (tiny) ship to the data with the UDF,
    blocks group by doc-range only — each block row crosses the
    exchange exactly ONCE regardless of batch size — and every query is
    scored inside the range group from once-decoded arrays (exhaustive
    per range, no WAND pruning: an analytical batch touches most blocks
    anyway, so there is nothing to skip). Blocks are doc-aligned across
    terms (operators/indexer.py), so each range is score-complete and
    the exact global top-k is the windowed merge of per-range top-k
    candidates. ``n_ranges`` > 1 therefore also splits a single fat
    query's scoring across doc ranges. Results are identical (ids AND
    scores) to ``bm25_query_topk``.

    At the 100 TB tier this is the map-side-join shape: a doc-range-
    partitioned postings layout would make the single exchange a
    partition-local read; with the shipped term_bucket layout it is one
    corpus-sized shuffle, amortized over the whole batch.

    NOT the default: the measured A/B at sf0.1-scale (96k docs, 10k
    distinct 3-term queries — BENCH.md "Query-batch redundancy") has the
    group path 1.1–1.7× FASTER at 2/8 cores: postings there total tens
    of MB, so B× replication never saturates anything, while this path
    pays a per-query numpy loop in every range group. The crossover is
    postings volume: use scan mode when (batch size × shared posting
    bytes) outgrows what the cluster can shuffle — the same
    bandwidth-vs-CPU trade, in the same direction, as the two-phase
    postings encode (jobs/run_queries.py ``--mode scan``).
    """
    qmeta, buckets, rep_for_qid = _plan(
        spark, index, queries, min_token_len, remove_numeric
    )
    if not qmeta:
        return spark.createDataFrame([], TOPK_SCHEMA)

    max_block = max(1, index.n_docs // index.block_range)
    n_ranges = n_ranges or spark.sparkContext.defaultParallelism * 4
    blocks_per_range = max(1, (max_block + n_ranges) // n_ranges)
    ranged = _blocks(
        spark, index, qmeta, buckets, ["term", "block_id", *_ENC_COLS]
    ).withColumn(
        "_range", (F.col("block_id") / F.lit(blocks_per_range)).cast("long")
    )
    q_items, avgdl, k1, b = sorted(qmeta.items()), index.avgdl, index.k1, index.b
    per_range = ranged.groupBy("_range").applyInPandas(
        lambda pdf: _score_range(pdf, q_items, k, avgdl, k1, b), schema=TOPK_SCHEMA
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    result = (
        per_range.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
    return _fan_out_result(spark, result, rep_for_qid)
