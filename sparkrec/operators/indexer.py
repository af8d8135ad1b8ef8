"""Inverted-index build: transcripts → docs/lexicon/stats/postings tables.

This is the engine's analogue of ``gen_embeddings("tfidf", …)``
(model.py:166-170) — but instead of a dense doc-term matrix and an N×N
similarity materialization (model.py:280-285, the 5-10 GB pickles the
reference ships), it builds a compressed, sharded inverted index that
queries prune at run time.

Scale design (SURVEY.md §4.2):

- **Hot-term skew defusal** (§4.2.1): posting assembly groups by
  ``(term, shard)``, where ``shard`` is derived from the *doc-id range*,
  sized per term from its document frequency: a stopword-like term with
  10^9 postings becomes ``df / docs_per_shard`` independent groups, so no
  single aggregation buffer or task ever holds more than
  ``docs_per_shard`` postings. Rare terms keep one group. AQE skew-join
  handling alone cannot do this — the ``collect_list`` state itself is
  the bottleneck being split.
- **Doc-aligned blocks**: inside a shard, postings are cut into blocks at
  fixed doc-id boundaries (``doc_id // block_range``), identical across
  ALL terms. Aligned blocks make every block-id segment score-complete
  (all terms' postings for those docs live in same-id blocks), which is
  what lets the WAND scorer prune whole segments by upper bound and stop
  early while staying exact (operators/scorer.py).
- **Partition pruning**: the postings table is written partitioned by
  ``term_bucket = pmod(xxhash64(term), n_buckets)`` — a query touches
  only the buckets of its own terms; the term equality predicate pushes
  down into the parquet/Iceberg scan.
- Encoding runs in ``mapInPandas`` with the batched numpy codec — one
  vectorized call per Arrow batch, not per posting (operators/codec.py).
- **Two-phase assembly** (§4.2.1, the default): TF is counted in-row and
  partial blocks are varint-encoded map-side, so the single corpus
  exchange carries ~5 B/posting of compressed bytes instead of raw
  struct rows over two exchanges (``encode_postings_twophase``); the
  reduce merges split blocks with a canonical re-encode, keeping table
  content bit-identical to the rows path.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkrec import BM25_B, BM25_K1
from sparkrec.operators.bm25 import idf_expr, term_freqs, tokenize_docs
from sparkrec.operators.codec import decode_postings_many, encode_postings_many
from sparkrec.operators.docs import assemble_docs, assign_doc_ids
from sparkrec.sources.tables import (
    bump_index_epoch,
    read_index_epoch,
    read_table,
    table_exists,
    write_table,
)


class StaleIndexError(RuntimeError):
    """Raised when a loaded/warmed Index handle is queried after the
    on-disk index moved to a newer epoch (e.g. a streaming merge rewrote
    lexicon/stats and appended postings). The handle's pinned caches and
    frozen (n_docs, avgdl) would silently mis-score — reload via
    ``Index.load`` or ``Index.refresh`` instead."""

POSTINGS_SCHEMA = (
    "term string, shard int, block_id long, n int, doc_lo long, doc_hi long, "
    "max_tf int, min_dl int, "
    "docs_enc binary, tfs_enc binary, dls_enc binary"
)


@dataclass
class IndexConfig:
    k1: float = BM25_K1
    b: float = BM25_B
    min_token_len: int = 2
    remove_numeric: bool = True
    block_range: int = 4096        # doc ids per block (aligned across terms)
    # max postings per assembly group — a HARD cap by construction ONLY
    # when docs_per_shard >= block_range (validated in __post_init__):
    # the shard is the doc-id block group, which spans at most
    # max(1, docs_per_shard // block_range) blocks (encode_postings
    # docstring), so a smaller docs_per_shard would silently bound at
    # block_range instead.
    # Sized for task balance, not memory:
    # measured at 2M turns, 64k-posting groups make the encode stage
    # straggler-bound (hot-term groups pin whole tasks; 8-core encode wall
    # 71 s) while 16k groups smooth the distribution (50 s at 8 cores,
    # fastest measured at 2 cores too). Re-confirmed at 32 cores by the
    # round-4 steal-gated A/B (BENCH.md "Round-4 docs_per_shard A/B"; the
    # A/B script is in git history, ee7da7f:jobs/ab_shards.py): 16k won
    # the clean-trial build wall 12.9 s vs 17.8 s. Block CONTENTS and query results
    # are identical for any value here (blocks are cut at block_range
    # boundaries inside any grouping) — but the stored `shard` column
    # values and shard counts DO change with it, so treat a retune as a
    # content-neutral but not byte-neutral change.
    docs_per_shard: int = 16384
    n_term_buckets: int = 16       # postings partition count (↑ on clusters)
    # postings assembly strategy (SURVEY §4.2.1). "twophase": TF counted
    # AND blocks pre-encoded map-side, the ONE corpus exchange carries
    # varint bytes (~5 B/posting), reduce merges partial blocks —
    # canonical re-encode makes output bytes identical to "rows".
    # "rows": explode→TF agg→groupBy(term, shard) with raw struct rows
    # crossing two corpus exchanges (~40 B/posting) — the round-1..4
    # layout, kept for A/B and as the no-Python-in-build fallback.
    postings_path: str = "twophase"

    def __post_init__(self):
        if self.postings_path not in ("twophase", "rows"):
            raise ValueError(
                f"postings_path must be 'twophase' or 'rows', "
                f"got {self.postings_path!r}"
            )
        if self.docs_per_shard < self.block_range:
            raise ValueError(
                f"docs_per_shard ({self.docs_per_shard}) must be >= "
                f"block_range ({self.block_range}): the per-group state "
                "bound is max(docs_per_shard, block_range), so a smaller "
                "value would not tighten the cap, only mislead"
            )


def term_bucket(n_term_buckets: int):
    """The ``term_bucket`` partition key of a ``term`` column: the same
    Catalyst expression for the build, the lexicon and delta merges."""
    return F.pmod(F.xxhash64("term"), F.lit(n_term_buckets)).cast("int")


def encode_postings(
    tf: DataFrame, n_docs: int, avgdl: float, cfg: IndexConfig
) -> DataFrame:
    """(doc_id, term, tf, doc_len) → encoded block rows.

    One shuffle: groupBy (term, shard) with in-agg sort; then a
    mapInPandas encode pass that is numpy-vectorized across every block
    in the Arrow batch.

    The shard is the doc-id block GROUP (``doc_id // block_range //
    blocks_per_group``) — a pure function of doc_id, needing no term
    statistics. Per-group state is hard-capped at ``docs_per_shard``
    postings by construction (a group spans at most ``blocks_per_group``
    blocks of ``block_range`` doc ids), so the Zipf head cannot pin a
    task no matter how hot the term; and because the value is
    df-independent, a streaming merge (ingest.py) assigns appended
    blocks the exact shard a from-scratch rebuild would. Cutting the
    old df-aware salting removed the build's second corpus-sized pass:
    df is now aggregated from the block rows AFTER assembly
    (build_index_from_docs), not joined in before it.
    """
    blocks_per_group = max(1, cfg.docs_per_shard // cfg.block_range)
    g = (F.col("doc_id") / F.lit(cfg.block_range)).cast("long")
    shard = (g / F.lit(blocks_per_group)).cast("long").cast("int")

    grouped = (
        tf.withColumn("shard", shard)
        .groupBy("term", "shard")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "tf", "doc_len"))
            ).alias("plist")
        )
        .select(
            "term",
            "shard",
            F.transform("plist", lambda x: x["doc_id"]).alias("doc_ids"),
            F.transform("plist", lambda x: x["tf"].cast("long")).alias("tfs"),
            F.transform("plist", lambda x: x["doc_len"].cast("long")).alias("dls"),
        )
    )

    block_range, k1, b = cfg.block_range, cfg.k1, cfg.b

    def encode(batches):
        for pdf in batches:
            terms, shards, block_ids = [], [], []
            doc_lists, tf_lists, dl_lists = [], [], []
            for term, sh, ids, tfs, dls in zip(
                pdf["term"], pdf["shard"], pdf["doc_ids"], pdf["tfs"], pdf["dls"]
            ):
                ids = np.asarray(ids, dtype=np.int64)
                tfs = np.asarray(tfs, dtype=np.int64)
                dls = np.asarray(dls, dtype=np.int64)
                gids = ids // block_range
                # split at block boundaries (ids sorted ⇒ gids sorted)
                cut = np.flatnonzero(np.diff(gids)) + 1
                for lo, hi in zip(
                    np.concatenate(([0], cut)), np.concatenate((cut, [len(ids)]))
                ):
                    terms.append(term)
                    shards.append(sh)
                    block_ids.append(int(gids[lo]))
                    doc_lists.append(ids[lo:hi].astype(np.uint64))
                    tf_lists.append(tfs[lo:hi].astype(np.uint64))
                    dl_lists.append(dls[lo:hi].astype(np.uint64))
            if not terms:
                continue
            docs_enc, tfs_enc, dls_enc = encode_postings_many(
                doc_lists, tf_lists, dl_lists
            )
            flat_tf = np.concatenate(tf_lists)
            flat_dl = np.concatenate(dl_lists)
            lens = np.array([len(x) for x in doc_lists])
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            max_tf = np.maximum.reduceat(flat_tf, starts)
            # (max_tf, min_dl) make the block upper bound recomputable at
            # query time under the CURRENT avgdl: bm25_weight is ↑ in tf
            # and ↓ in dl, so f(max_tf, min_dl, avgdl_now) ≥
            # f(tf_i, dl_i, avgdl_now) for every posting — the WAND bound
            # stays safe after incremental merges shift corpus stats
            # (streaming/ingest.py). A build-time max_weight would bake the
            # old avgdl in, so none is stored.
            min_dl = np.minimum.reduceat(flat_dl, starts)
            yield pd.DataFrame(
                {
                    "term": terms,
                    "shard": np.asarray(shards, dtype=np.int32),
                    "block_id": np.asarray(block_ids, dtype=np.int64),
                    "n": lens.astype(np.int32),
                    "doc_lo": np.array([int(x[0]) for x in doc_lists], dtype=np.int64),
                    "doc_hi": np.array([int(x[-1]) for x in doc_lists], dtype=np.int64),
                    "max_tf": max_tf.astype(np.int32),
                    "min_dl": min_dl.astype(np.int32),
                    "docs_enc": docs_enc,
                    "tfs_enc": tfs_enc,
                    "dls_enc": dls_enc,
                }
            )

    return grouped.mapInPandas(encode, schema=POSTINGS_SCHEMA)


def encode_postings_twophase(docs: DataFrame, cfg: IndexConfig) -> DataFrame:
    """docs (doc_id, doc_len, tokens, …) → encoded block rows via the
    SURVEY §4.2.1 two-phase layout.

    **Phase 1 (map-only).** TF needs no cross-row aggregation — a doc's
    tokens live entirely in its own row — so the rows path's explode →
    groupBy(doc_id, term) corpus exchange is pure waste. Here each Arrow
    batch counts TF in-row with a factorize + lexsort run-length kernel
    (int codes, not interpreted HOF lambdas — the 1.6×-slower per-element
    HOF variant in BENCH.md "tried and rejected" is a different animal),
    cuts partial posting lists at the SAME ``block_range`` boundaries as
    the rows path, and varint-encodes them immediately. Partial rows use
    POSTINGS_SCHEMA verbatim.

    **Phase 2 (the one exchange).** Partials shuffle on (term, shard)
    carrying ~5 B/posting of varint bytes instead of ~40 B/posting of raw
    (doc_id, tf, doc_len) structs over TWO corpus exchanges. Per-group
    reduce state stays hard-capped: ≤ docs_per_shard postings, now in
    encoded form. Blocks wholly inside one map batch pass through
    untouched (their bytes are already the canonical encode of the full
    sorted list); blocks split across batches are decoded, merge-sorted
    by doc_id, and re-encoded. The codec is a deterministic function of
    the sorted content, so the output table is CONTENT-IDENTICAL to the
    rows path — including the binary columns (tests/test_indexer.py
    asserts full-table equality, and streaming merges built on the rows
    path stay bit-compatible).

    Shard/block assignment matches encode_postings exactly: shard =
    (doc_id // block_range) // blocks_per_group, nonnegative ids, so
    int64 floor division here equals Spark's double-divide-then-cast.
    """
    blocks_per_group = max(1, cfg.docs_per_shard // cfg.block_range)
    block_range = cfg.block_range

    def partial_encode(batches):
        for pdf in batches:
            tok_lists = pdf["tokens"]
            n_rows = len(tok_lists)
            if n_rows == 0:
                continue
            doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            doc_lens = pdf["doc_len"].to_numpy(dtype=np.int64)
            lens = np.fromiter(
                (len(t) for t in tok_lists), dtype=np.int64, count=n_rows
            )
            total = int(lens.sum())
            if total == 0:
                continue
            flat = np.concatenate(
                [np.asarray(t, dtype=object) for t in tok_lists if len(t)]
            )
            codes, uniques = pd.factorize(flat)
            docx = np.repeat(np.arange(n_rows), lens)
            # TF in-row: sort (doc, code) pairs, run-length the runs
            order = np.lexsort((codes, docx))
            dc, cc = docx[order], codes[order]
            newrun = np.empty(len(dc), dtype=bool)
            newrun[0] = True
            newrun[1:] = (dc[1:] != dc[:-1]) | (cc[1:] != cc[:-1])
            run_starts = np.flatnonzero(newrun)
            run_tf = np.diff(np.append(run_starts, len(dc)))
            run_code = cc[run_starts]
            run_docid = doc_ids[dc[run_starts]]
            run_dl = doc_lens[dc[run_starts]]
            # partial blocks: sort runs by (term code, doc_id); block is
            # monotone in doc_id so (code, doc_id) order groups blocks
            order2 = np.lexsort((run_docid, run_code))
            g_code = run_code[order2]
            g_docid = run_docid[order2]
            g_tf = run_tf[order2]
            g_dl = run_dl[order2]
            g_block = g_docid // block_range
            cut = (
                np.flatnonzero(
                    (g_code[1:] != g_code[:-1]) | (g_block[1:] != g_block[:-1])
                )
                + 1
            )
            starts = np.concatenate(([0], cut))
            ends = np.concatenate((cut, [len(g_code)]))
            doc_lists = [
                g_docid[s:e].astype(np.uint64) for s, e in zip(starts, ends)
            ]
            tf_lists = [g_tf[s:e].astype(np.uint64) for s, e in zip(starts, ends)]
            dl_lists = [g_dl[s:e].astype(np.uint64) for s, e in zip(starts, ends)]
            docs_enc, tfs_enc, dls_enc = encode_postings_many(
                doc_lists, tf_lists, dl_lists
            )
            block_ids = g_block[starts]
            yield pd.DataFrame(
                {
                    "term": uniques[g_code[starts]],
                    "shard": (block_ids // blocks_per_group).astype(np.int32),
                    "block_id": block_ids.astype(np.int64),
                    "n": (ends - starts).astype(np.int32),
                    "doc_lo": g_docid[starts].astype(np.int64),
                    "doc_hi": g_docid[ends - 1].astype(np.int64),
                    "max_tf": np.maximum.reduceat(g_tf, starts).astype(np.int32),
                    "min_dl": np.minimum.reduceat(g_dl, starts).astype(np.int32),
                    "docs_enc": docs_enc,
                    "tfs_enc": tfs_enc,
                    "dls_enc": dls_enc,
                }
            )

    partials = docs.select("doc_id", "doc_len", "tokens").mapInPandas(
        partial_encode, schema=POSTINGS_SCHEMA
    )

    # the ONE corpus exchange: encoded partials keyed (term, shard).
    # struct sorts by field order, so (block_id, doc_lo) leads — within a
    # group, partials arrive block-grouped and doc_lo-ordered. (block_id,
    # doc_lo) is unique per group: a (doc, term) pair lands in exactly
    # one map batch, so two partials of one block can't share doc_lo.
    grouped = partials.groupBy("term", "shard").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "block_id", "doc_lo", "doc_hi", "n", "max_tf", "min_dl",
                    "docs_enc", "tfs_enc", "dls_enc",
                )
            )
        ).alias("parts")
    )

    def merge(batches):
        for pdf in batches:
            o_term, o_shard, o_block = [], [], []
            o_n, o_lo, o_hi, o_mtf, o_mdl = [], [], [], [], []
            o_de, o_te, o_le = [], [], []
            m_term, m_shard, m_block = [], [], []
            m_d, m_t, m_l = [], [], []  # per split block: list of blobs
            for term, shard, parts in zip(
                pdf["term"], pdf["shard"], pdf["parts"]
            ):
                i, n_parts = 0, len(parts)
                while i < n_parts:
                    bid = parts[i]["block_id"]
                    j = i + 1
                    while j < n_parts and parts[j]["block_id"] == bid:
                        j += 1
                    if j == i + 1:
                        # unsplit block: already the canonical encode
                        p = parts[i]
                        o_term.append(term)
                        o_shard.append(shard)
                        o_block.append(bid)
                        o_n.append(p["n"])
                        o_lo.append(p["doc_lo"])
                        o_hi.append(p["doc_hi"])
                        o_mtf.append(p["max_tf"])
                        o_mdl.append(p["min_dl"])
                        o_de.append(p["docs_enc"])
                        o_te.append(p["tfs_enc"])
                        o_le.append(p["dls_enc"])
                    else:
                        m_term.append(term)
                        m_shard.append(shard)
                        m_block.append(bid)
                        m_d.append([parts[k]["docs_enc"] for k in range(i, j)])
                        m_t.append([parts[k]["tfs_enc"] for k in range(i, j)])
                        m_l.append([parts[k]["dls_enc"] for k in range(i, j)])
                    i = j
            if m_term:
                dd, tt, ll = decode_postings_many(
                    [b for grp in m_d for b in grp],
                    [b for grp in m_t for b in grp],
                    [b for grp in m_l for b in grp],
                )
                doc_lists, tf_lists, dl_lists = [], [], []
                idx = 0
                for grp in m_d:
                    k = len(grp)
                    d = np.concatenate(dd[idx : idx + k])
                    t = np.concatenate(tt[idx : idx + k])
                    dl = np.concatenate(ll[idx : idx + k])
                    # map batches are arbitrary row ranges: doc ranges of
                    # partials may interleave — merge-sort when needed
                    # ((doc, term) is unique, so no tie order to worry)
                    if len(d) > 1 and not np.all(d[1:] > d[:-1]):
                        o = np.argsort(d, kind="stable")
                        d, t, dl = d[o], t[o], dl[o]
                    doc_lists.append(d)
                    tf_lists.append(t)
                    dl_lists.append(dl)
                    idx += k
                de, te, le = encode_postings_many(doc_lists, tf_lists, dl_lists)
                flat_tf = np.concatenate(tf_lists)
                flat_dl = np.concatenate(dl_lists)
                lens = np.array([len(x) for x in doc_lists])
                starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                o_term.extend(m_term)
                o_shard.extend(m_shard)
                o_block.extend(m_block)
                o_n.extend(lens.tolist())
                o_lo.extend(int(x[0]) for x in doc_lists)
                o_hi.extend(int(x[-1]) for x in doc_lists)
                o_mtf.extend(np.maximum.reduceat(flat_tf, starts).tolist())
                o_mdl.extend(np.minimum.reduceat(flat_dl, starts).tolist())
                o_de.extend(de)
                o_te.extend(te)
                o_le.extend(le)
            if not o_term:
                continue
            yield pd.DataFrame(
                {
                    "term": o_term,
                    "shard": np.asarray(o_shard, dtype=np.int32),
                    "block_id": np.asarray(o_block, dtype=np.int64),
                    "n": np.asarray(o_n, dtype=np.int32),
                    "doc_lo": np.asarray(o_lo, dtype=np.int64),
                    "doc_hi": np.asarray(o_hi, dtype=np.int64),
                    "max_tf": np.asarray(o_mtf, dtype=np.int32),
                    "min_dl": np.asarray(o_mdl, dtype=np.int32),
                    "docs_enc": o_de,
                    "tfs_enc": o_te,
                    "dls_enc": o_le,
                }
            )

    return grouped.mapInPandas(merge, schema=POSTINGS_SCHEMA)


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_root: str,
    cfg: IndexConfig | None = None,
    overwrite: bool = False,
    metrics=None,
) -> None:
    """Full build from transcripts: docs → stats → lexicon → postings,
    each a resumable stage (skip-if-table-exists — the reference's
    memoize-on-existence semantics, data_utils.py:302/457, model.py:178)."""
    from sparkrec.plans.manifest import Stage

    cfg = cfg or IndexConfig()

    with Stage("docs", index_root, overwrite, metrics) as st:
        if st.needed:
            from pyspark import StorageLevel

            # assign_doc_ids runs a bucket-count ACTION before the final
            # write — without a persist the whole assembly shuffle would
            # execute twice (measured ~2x the docs-stage cost)
            assembled = assemble_docs(transcripts).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            docs = tokenize_docs(
                assign_doc_ids(assembled),
                min_token_len=cfg.min_token_len,
                remove_numeric=cfg.remove_numeric,
            )
            write_table(
                docs.select(
                    "doc_id", "conv_id", "turn_lo", "turn_hi", "n_turns",
                    "ts_lo", "ts_hi", "doc_len", "tokens",
                ),
                index_root,
                "docs",
            )
            assembled.unpersist(blocking=True)

    build_index_from_docs(spark, None, index_root, cfg, overwrite, metrics)


def build_index_from_docs(
    spark: SparkSession,
    docs: DataFrame | None,
    index_root: str,
    cfg: IndexConfig | None = None,
    overwrite: bool = False,
    metrics=None,
) -> None:
    """Index build over an already-tokenized docs table.

    ``docs`` needs (doc_id long, tokens array<string>, doc_len int) plus
    any metadata columns; pass None to resume from an existing ``docs``
    table under ``index_root``. This is the generic entry point — any
    corpus with stable integer doc ids (e.g. the driver's ``documents``
    parquet) indexes through here; transcripts go through
    ``build_index`` which adds assembly + id assignment first.
    """
    from sparkrec.plans.manifest import Stage

    cfg = cfg or IndexConfig()

    ran_any = False

    with Stage("docs", index_root, overwrite and docs is not None, metrics) as st:
        if st.needed and docs is not None:
            write_table(docs, index_root, "docs")
        elif st.needed:
            raise ValueError("docs DataFrame required: no docs table at root")
        ran_any |= st.needed

    docs = read_table(spark, index_root, "docs")

    with Stage("stats", index_root, overwrite, metrics) as st:
        ran_any |= st.needed
        if st.needed:
            row = docs.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("doc_len").cast("long").alias("total"),
            ).collect()[0]
            n_docs, total_len = int(row["n"]), int(row["total"] or 0)
            # avgdl derived from exact longs: an incremental merge that
            # adds (n', total') reproduces the identical double — scores
            # after a merge match a from-scratch rebuild bit-for-bit
            avgdl = total_len / n_docs if n_docs else 0.0
            write_table(
                spark.createDataFrame(
                    [(n_docs, total_len, avgdl, cfg.k1, cfg.b, cfg.block_range)],
                    "n_docs long, total_len long, avgdl double, "
                    "k1 double, b double, block_range int",
                ),
                index_root,
                "stats",
            )

    stats = read_table(spark, index_root, "stats").collect()[0]
    n_docs, avgdl = int(stats["n_docs"]), float(stats["avgdl"])

    # One corpus-sized pass total: TF flows straight into posting
    # assembly (the shard is a pure function of doc_id — see
    # encode_postings), and the lexicon's df is then aggregated from the
    # written block rows (sum of per-block counts == document frequency,
    # since each (doc, term) posting lands in exactly one block). The
    # old layout ran doc_freqs over TF, wrote the lexicon, and joined it
    # back into TF — two corpus-sized shuffles plus a join and a TF
    # persist; the per-stage scaling run (BENCH_SCALING.md) showed that
    # combined pass pair was the bulk of the build wall.

    with Stage("postings", index_root, overwrite, metrics) as st:
        ran_any |= st.needed
        if st.needed:
            if cfg.postings_path == "twophase":
                enc = encode_postings_twophase(docs, cfg)
            else:
                enc = encode_postings(term_freqs(docs), n_docs, avgdl, cfg)
            enc = enc.withColumn("term_bucket", term_bucket(cfg.n_term_buckets))
            write_table(enc, index_root, "postings", partition_by=["term_bucket"])

    with Stage("lexicon", index_root, overwrite, metrics) as st:
        ran_any |= st.needed
        if st.needed:
            blocks = read_table(spark, index_root, "postings")
            lex = (
                blocks.groupBy("term")
                .agg(F.sum("n").cast("long").alias("df"))
                .withColumn("idf", idf_expr(F.col("df"), n_docs))
                .withColumn("term_bucket", term_bucket(cfg.n_term_buckets))
            )
            write_table(lex, index_root, "lexicon")

    if ran_any:
        # any (re)written stage changed query-visible state: move the
        # index epoch forward so handles loaded earlier fail loudly
        # (Index.check_fresh) instead of serving stale idf/avgdl/blocks
        bump_index_epoch(index_root)


class _DriverLexicon:
    """Compact driver-resident term → (idf, term_bucket) map.

    One str→row dict plus two parallel numpy arrays — ~100 MB per 1M
    terms, vs ~500 MB for a plain dict of (float, int) tuples (the dict
    slot + tuple + boxed-float overhead dominates). Duck-typed like a
    mapping for the two ops the scorer uses (``in``, ``[term]``).
    """

    __slots__ = ("_row", "_idf", "_bucket")

    def __init__(self, terms, idf, bucket):
        self._row = {t: i for i, t in enumerate(terms)}
        self._idf = np.asarray(idf, dtype=np.float64)
        self._bucket = np.asarray(bucket, dtype=np.int32)

    def __contains__(self, term) -> bool:
        return term in self._row

    def __len__(self) -> int:
        return len(self._row)

    def __getitem__(self, term):
        i = self._row[term]
        return float(self._idf[i]), int(self._bucket[i])


@dataclass
class Index:
    root: str
    n_docs: int
    total_len: int
    avgdl: float
    k1: float
    b: float
    block_range: int
    #: epoch of the on-disk index this handle was loaded from; compared
    #: against the sidecar (or Iceberg snapshot) before serving so a
    #: handle held across a merge/rebuild fails loudly (StaleIndexError)
    epoch: int = 1

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "Index":
        stats = read_table(spark, root, "stats").collect()[0]
        return cls(
            root=root,
            n_docs=int(stats["n_docs"]),
            total_len=int(stats["total_len"]),
            avgdl=float(stats["avgdl"]),
            k1=float(stats["k1"]),
            b=float(stats["b"]),
            block_range=int(stats["block_range"]),
            epoch=read_index_epoch(root) or 1,
        )

    _lexicon_cached: DataFrame | None = None
    _postings_cached: DataFrame | None = None
    #: term_bucket subset the postings cache covers; None = full table.
    #: Query paths must route through ``postings_for`` so a subset warm
    #: can never silently serve a query whose terms live outside it.
    _postings_buckets: frozenset | None = None
    _lexicon_map: _DriverLexicon | None = None

    #: build the driver-resident lexicon only below this vocabulary size.
    #: The standard serving design keeps the lexicon in RAM (it is the
    #: index's "dimension table"); 1M entries ≈ 100 MB in the compact
    #: _DriverLexicon layout — bounded on the 8g driver. Above the cap,
    #: query paths fall back to the distributed lexicon lookup — nothing
    #: breaks, one extra Spark job per query.
    LEX_DRIVER_CACHE_MAX = 1_000_000

    def check_fresh(self) -> None:
        """Raise StaleIndexError if the on-disk index moved past this
        handle's epoch. A driver-side file read — no Spark job — called
        by every query path, so stale pinned caches / frozen corpus
        stats can never silently mis-score after a streaming merge."""
        cur = read_index_epoch(self.root)
        if cur is not None and cur != self.epoch:
            raise StaleIndexError(
                f"index at {self.root} is at epoch {cur}, this handle "
                f"was loaded at epoch {self.epoch} — a merge or rebuild "
                "happened; reload with Index.load / Index.refresh"
            )

    def refresh(self, spark: SparkSession) -> "Index":
        """Release this handle's pinned caches and return a fresh handle
        at the current epoch, re-warmed to the same level (the post-merge
        serving handoff: old handle poisoned, new one takes over)."""
        re_post = self._postings_cached is not None
        re_buckets = self._postings_buckets
        re_warm = re_post or self._lexicon_cached is not None
        for df in (self._lexicon_cached, self._postings_cached):
            if df is not None:
                df.unpersist()
        self._lexicon_cached = None
        self._postings_cached = None
        self._postings_buckets = None
        self._lexicon_map = None
        idx = Index.load(spark, self.root)
        if re_warm:
            idx.warm(
                spark, postings=re_post,
                buckets=sorted(re_buckets) if re_buckets is not None else None,
            )
        return idx

    def postings(self, spark: SparkSession) -> DataFrame:
        """Full postings table — the warm cache only when it covers the
        WHOLE table (a bucket-subset warm would drop rows here)."""
        if self._postings_cached is not None and self._postings_buckets is None:
            return self._postings_cached
        return read_table(spark, self.root, "postings")

    def postings_for(self, spark: SparkSession, buckets) -> DataFrame:
        """Postings source for a query touching only ``buckets``: the warm
        cache when it covers them (full warm, or a subset warm that is a
        superset of the query's buckets), else the base parquet scan —
        whose term_bucket partition pruning makes the cold path cheap.
        The caller still applies its own bucket/term filters; this only
        picks the cheapest covering source."""
        if self._postings_cached is not None and (
            self._postings_buckets is None
            or frozenset(buckets) <= self._postings_buckets
        ):
            return self._postings_cached
        return read_table(spark, self.root, "postings")

    def lexicon(self, spark: SparkSession) -> DataFrame:
        if self._lexicon_cached is not None:
            return self._lexicon_cached
        return read_table(spark, self.root, "lexicon")

    def warm(self, spark: SparkSession, postings: bool = True,
             buckets=None) -> "Index":
        """Pin serving tables in executor memory (the search-server warm-up:
        a production index is resident, not re-decoded from parquet per
        query). Lexicon always; postings optionally — and at the 100 TB
        tier you pass ``buckets=[...]`` to pin only the HOT term_buckets
        (the partition-pruned subset scan) and leave the cold tail on
        parquet: queries whose terms all live in warmed buckets serve
        from memory, anything else transparently falls back to the pruned
        cold scan (``postings_for``) with identical results."""
        lex = read_table(spark, self.root, "lexicon").cache()
        n_terms = lex.count()
        self._lexicon_cached = lex
        if n_terms <= self.LEX_DRIVER_CACHE_MAX:
            pdf = lex.select("term", "idf", "term_bucket").toPandas()
            self._lexicon_map = _DriverLexicon(
                pdf["term"].tolist(), pdf["idf"], pdf["term_bucket"]
            )
        if postings:
            post = read_table(spark, self.root, "postings")
            if buckets is not None:
                post = post.filter(
                    F.col("term_bucket").isin([int(x) for x in buckets])
                )
            post = post.cache()
            post.count()
            self._postings_cached = post
            self._postings_buckets = (
                None if buckets is None else frozenset(int(x) for x in buckets)
            )
        return self

    def docs(self, spark: SparkSession) -> DataFrame:
        return read_table(spark, self.root, "docs")
