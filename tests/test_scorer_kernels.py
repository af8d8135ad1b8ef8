"""Spark-free differential tests of the scoring kernels.

``wand_topk`` (the per-query block-max WAND kernel) and ``_score_range``
(the per-doc-range exhaustive kernel, merged across ranges the way the
scan path's window does) must return bit-identical ids and scores, and
both must match an exhaustive numpy BM25 over the same postings. Block
frames are built with the real codec on random tiny corpora; no
SparkSession is started.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from sparkrec import BM25_B, BM25_K1
from sparkrec.operators.codec import encode_postings_many
from sparkrec.operators.scorer import _score_range, wand_topk

TERMS = ["a", "b", "c", "d"]
ABSENT = "zz"  # a query term with no posting blocks
GIANT_TF = 2**40


def _block_rows(postings, dl, block_range, split):
    """Doc-aligned block rows (the postings table's shape) for
    ``postings`` (term → {doc: tf}). With ``split``, every block of two or
    more postings is written as two rows with the same (term, block_id):
    the shape a delta appended into a partly-filled block leaves."""
    parts = []
    for t, docs in postings.items():
        by_block: dict[int, list[int]] = {}
        for d in sorted(docs):
            by_block.setdefault(d // block_range, []).append(d)
        for g, ds in by_block.items():
            cut = len(ds) // 2 if split and len(ds) > 1 else len(ds)
            parts += [(t, g, part) for part in (ds[:cut], ds[cut:]) if part]
    doc_lists = [np.array(ds, dtype=np.int64) for _, _, ds in parts]
    tf_lists = [np.array([postings[t][d] for d in ds], dtype=np.int64)
                for t, _, ds in parts]
    dl_lists = [np.array([dl[d] for d in ds], dtype=np.int64) for _, _, ds in parts]
    docs_enc, tfs_enc, dls_enc = encode_postings_many(doc_lists, tf_lists, dl_lists)
    return pd.DataFrame({
        "term": [t for t, _, _ in parts],
        "block_id": np.array([g for _, g, _ in parts], dtype=np.int64),
        "max_tf": np.array([x.max() for x in tf_lists], dtype=np.int64),
        "min_dl": np.array([x.min() for x in dl_lists], dtype=np.int64),
        "docs_enc": docs_enc,
        "tfs_enc": tfs_enc,
        "dls_enc": dls_enc,
    })


def _exhaustive(postings, dl, meta, k, avgdl):
    """Score every doc holding a query term (terms in sorted order), then
    take the first k by (score desc, doc_id asc)."""
    acc: dict[int, float] = {}
    for t in sorted(meta):
        idf, qtf = meta[t]
        for d, tf in postings.get(t, {}).items():
            tf_f, dl_f = np.float64(tf), np.float64(dl[d])
            w = tf_f * (BM25_K1 + 1.0) / (
                tf_f + BM25_K1 * (1.0 - BM25_B + BM25_B * dl_f / avgdl))
            acc[d] = acc.get(d, 0.0) + w * (idf * qtf)
    ids = np.array(sorted(acc), dtype=np.int64)
    scores = np.array([acc[d] for d in ids], dtype=np.float64)
    order = np.lexsort((ids, -scores))[:k]
    return ids[order], scores[order]


def _range_topk(blocks, q_items, k, avgdl, n_docs, block_range, n_ranges):
    """``_score_range`` per doc range, then the per-query merge of the
    scan path's window: (score desc, doc_id asc), first k."""
    max_block = max(1, n_docs // block_range)
    per_range = max(1, (max_block + n_ranges) // n_ranges)
    parts = [
        _score_range(pdf, q_items, k, avgdl, BM25_K1, BM25_B)
        for _, pdf in blocks.groupby(blocks["block_id"] // per_range)
    ]
    cand = pd.concat(
        parts or [pd.DataFrame(columns=["query_id", "doc_id", "score"])],
        ignore_index=True,
    )
    out = {}
    for qid, _ in q_items:
        got = cand[cand["query_id"] == qid]
        ids = got["doc_id"].to_numpy(np.int64)
        scores = got["score"].to_numpy(np.float64)
        order = np.lexsort((ids, -scores))[:k]
        out[qid] = (ids[order], scores[order])
    return out


def check_kernels(postings, extra, queries, k, block_range, split, order_seed,
                  n_ranges):
    n_docs = len(extra)
    dl = [sum(p.get(d, 0) for p in postings.values()) + extra[d]
          for d in range(n_docs)]
    avgdl = max(float(np.mean(dl)), 1.0)
    idf = {t: float(np.log((n_docs - len(p) + 0.5) / (len(p) + 0.5) + 1.0))
           for t, p in postings.items()}
    idf[ABSENT] = 1.5
    blocks = _block_rows(postings, dl, block_range, split)
    # arbitrary row arrival order: the kernels must canonicalize it
    blocks = blocks.sample(frac=1.0, random_state=order_seed, ignore_index=True)

    q_items = [
        (f"q{i}", {t: (idf[t], qtf) for t, qtf in sorted(q.items())})
        for i, q in enumerate(queries)
    ]
    ranged = _range_topk(blocks, q_items, k, avgdl, n_docs, block_range, n_ranges)
    for qid, meta in q_items:
        qb = blocks[blocks["term"].isin(meta.keys())]
        w_ids, w_scores = wand_topk(qb, meta, k, avgdl, BM25_K1, BM25_B)
        r_ids, r_scores = ranged[qid]
        assert np.array_equal(w_ids, r_ids), (qid, w_ids, r_ids)
        assert np.array_equal(w_scores, r_scores), (qid, w_scores, r_scores)
        e_ids, e_scores = _exhaustive(postings, dl, meta, k, avgdl)
        assert np.array_equal(w_ids, e_ids), (qid, w_ids, e_ids)
        np.testing.assert_allclose(w_scores, e_scores, rtol=1e-9, atol=0)


@st.composite
def cases(draw):
    n_docs = draw(st.integers(1, 40))
    tf_max = draw(st.sampled_from([1, 2, 3, 40]))  # small ranges tie often
    postings = {}
    for t in TERMS:
        docs = draw(st.lists(st.integers(0, n_docs - 1), max_size=n_docs,
                             unique=True))
        postings[t] = {d: draw(st.integers(1, tf_max)) for d in docs}
    live = [(t, d) for t, p in postings.items() for d in p]
    if live and draw(st.booleans()):
        t, d = draw(st.sampled_from(live))
        postings[t][d] = GIANT_TF
    extra = draw(st.lists(st.integers(0, 2), min_size=n_docs, max_size=n_docs))
    query = st.dictionaries(st.sampled_from(TERMS + [ABSENT]),
                            st.integers(1, 3), min_size=1, max_size=5)
    queries = draw(st.lists(query, min_size=1, max_size=4))
    return dict(
        postings=postings,
        extra=extra,
        queries=queries,
        k=draw(st.integers(1, n_docs + 3)),  # k ≥ matches included
        block_range=draw(st.sampled_from([1, 2, 4, 8])),
        split=draw(st.booleans()),
        order_seed=draw(st.integers(0, 2**16)),
        n_ranges=draw(st.integers(1, 4)),
    )


# every doc ties on term "a" except doc 11 (tf 2, last segment, highest
# upper bound); k=3 puts θ inside the tie, which spans every segment
TIES = dict(
    postings={"a": {d: (2 if d == 11 else 1) for d in range(12)}, "b": {},
              "c": {}, "d": {}},
    extra=[0] * 12,
    queries=[{"a": 1}, {"a": 2, ABSENT: 1}, {ABSENT: 1}],
    k=3, block_range=2, split=True, order_seed=7, n_ranges=3,
)

# θ lands exactly on a segment upper bound: the first chunk (8 segments)
# holds docs 16-31, whose segment bounds are inflated by (tf 2, dl 10)
# docs, and fills the top-2 with tf-1 ties at θ; segments 0-7 bound at
# exactly θ and hold lower doc ids, so WAND must still visit them
THETA_ON_BOUND = dict(
    postings={"a": {d: (2 if d >= 16 and d % 2 == 0 else 1) for d in range(32)}},
    extra=[8 if d >= 16 and d % 2 == 0 else 0 for d in range(32)],
    queries=[{"a": 1}],
    k=2, block_range=2, split=False, order_seed=3, n_ranges=2,
)


@settings(max_examples=300, deadline=None)
@example(case=TIES)
@example(case=THETA_ON_BOUND)
@given(case=cases())
def test_wand_and_range_kernels_match_exhaustive(case):
    check_kernels(**case)


def test_tie_cases_rank_by_doc_id():
    """The hand-built tie cases: the lowest doc ids win every tie."""
    check_kernels(**THETA_ON_BOUND)
    c = THETA_ON_BOUND
    dl = [tf + x for tf, x in zip(c["postings"]["a"].values(), c["extra"])]
    blocks = _block_rows(c["postings"], dl, 2, False)
    ids, _ = wand_topk(blocks, {"a": (1.0, 1)}, 2, float(np.mean(dl)),
                       BM25_K1, BM25_B)
    assert ids.tolist() == [0, 1]
    check_kernels(**TIES)
    blocks = _block_rows(TIES["postings"], [1] * 11 + [2], 2, True)
    ids, _ = wand_topk(blocks, {"a": (1.0, 1)}, 3, 1.0, BM25_K1, BM25_B)
    assert ids.tolist() == [11, 0, 1]
