"""Recommendation-surface operators: the reference ``recommend()`` API
re-expressed over BM25 scores.

- ``fold_multi_input_scores``: the reference's order-dependent
  recency-weighted score merge (reference model.py:331-358): for the r-th
  input (r = 0-based), ``sims = mean(r * sims_prev, w_r * sims_r)``
  elementwise, where ``w_r = rating_r / 10`` when ratings are given
  (model.py:334, 350-358). NOT a plain average — the fold must run in
  input order (SURVEY.md §2.5 T2), so it is computed as a left-fold over
  per-input score columns joined on doc_id, never via ``groupBy`` (whose
  combine order is arbitrary).
- ``exclude_inputs_topn``: sort desc, drop the inputs themselves, take n
  (model.py:372-383 — exclusion happens before the limit, after the sort;
  both orderings agree because excluded rows can only free up slots).
- ``fuzzy_suggestions``: top-5 closest titles for a missed input
  (reference utils.py:24-57) — ``SequenceMatcher.ratio`` becomes a
  levenshtein-based similarity available JVM-side in both engines.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def fold_multi_input_scores(
    per_input_scores: list[DataFrame],
    ratings: list[float] | None = None,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Fold per-input score tables in input order.

    Each element of ``per_input_scores`` is (doc_id, score) for one input.
    Missing docs score 0 (full outer join, coalesce) — mirrors the dense
    sim-matrix rows where unmatched docs simply have low similarity.
    Ratings ∈ [0, 10] are validated like model.py:331-333.
    """
    if ratings is not None:
        if len(ratings) != len(per_input_scores):
            raise ValueError("ratings length must match inputs")
        if any(r < 0 or r > 10 for r in ratings):
            raise ValueError("ratings must be between 0 and 10")
        weights = [r / 10.0 for r in ratings]
    else:
        weights = [1.0] * len(per_input_scores)

    acc = per_input_scores[0].select(
        F.col(id_col),
        (F.col(score_col) * F.lit(weights[0])).alias("_acc"),
    )
    for r in range(1, len(per_input_scores)):
        nxt = per_input_scores[r].select(
            F.col(id_col), (F.col(score_col) * F.lit(weights[r])).alias("_s")
        )
        acc = (
            acc.join(nxt, id_col, "full_outer")
            .select(
                F.col(id_col),
                (
                    (
                        F.lit(float(r)) * F.coalesce(F.col("_acc"), F.lit(0.0))
                        + F.coalesce(F.col("_s"), F.lit(0.0))
                    )
                    / F.lit(2.0)
                ).alias("_acc"),
            )
        )
    return acc.select(F.col(id_col), F.col("_acc").alias(score_col))


def exclude_inputs_topn(
    scores: DataFrame,
    input_ids: list,
    n: int,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """model.py:372-383: sort desc (deterministic doc_id asc tie-break),
    exclude the inputs, take n — Spark plans this as
    TakeOrderedAndProject, no global sort materialization."""
    return (
        scores.filter(~F.col(id_col).isin(list(input_ids)))
        .orderBy(F.desc(score_col), F.asc(id_col))
        .limit(n)
    )


WIKILINK_BOILERPLATE = [
    "hardcover", "paperback", "hardback", "e-book",
    "wikipedia:wikiproject books", "wikipedia:wikiproject novels",
]


def wikilink_frequencies(
    corpus: DataFrame,
    min_count: int = 4,
    to_remove: list[str] | None = None,
    links_col: str = "wikilinks",
) -> DataFrame:
    """(link, cnt) for links kept by the reference's wikilink filter
    (model.py:424-443): per-article DISTINCT links (``list(set(a[2]))``),
    lowercased, boilerplate removed, kept when corpus count ≥ min_count.

    explode(array_distinct) → lower → anti-filter → hash agg → HAVING:
    one shuffle, uniform keys (link strings), partial aggregation."""
    to_remove = WIKILINK_BOILERPLATE if to_remove is None else to_remove
    links = corpus.select(
        F.explode(F.array_distinct(F.col(links_col))).alias("link")
    ).select(F.lower("link").alias("link"))
    if to_remove:
        links = links.filter(~F.col("link").isin(list(to_remove)))
    return (
        links.groupBy("link")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


@dataclass
class RecommendResult:
    """``recommend()``'s two outputs: the ranked recommendations and, for
    each input title with no corpus match, its top-5 fuzzy suggestions
    (the reference prints these on a miss, model.py:360-370)."""

    recs: DataFrame
    suggestions: DataFrame
    missed: list[str]


def recommend(
    spark: SparkSession,
    docs: DataFrame,
    inputs: list[str],
    ratings: list[float] | None = None,
    n: int = 10,
    id_col: str = "doc_id",
    title_col: str = "title",
    tokens_col: str = "tokens",
    round_scores: int | None = None,
) -> RecommendResult:
    """The reference's composed ``recommend()`` entry point
    (model.py:293-383), re-expressed over BM25 instead of a dense
    sim-matrix row scan:

    1. **title lookup** (model.py:337-343): broadcast hash join of the
       (tiny) input-title table against the corpus — replaces the O(n_inputs
       × n_titles) nested loop.
    2. **miss branch** (model.py:360-370): a driver-side left-anti check of
       the broadcast-joined result; each missed title gets
       ``fuzzy_suggestions`` top-5 (utils.py:24-57).
    3. **scoring**: each found input's own tokens become a BM25 query over
       the corpus ("more-like-this") — the index-era analogue of reading
       that document's similarity-matrix row (model.py:280-285).
    4. **order-dependent fold** (model.py:331-358): per-input score tables
       folded in input order with rating weights via
       ``fold_multi_input_scores``.
    5. **exclude + top-n** (model.py:372-383): inputs dropped, sort desc,
       limit n → ``TakeOrderedAndProject``.

    ``docs`` needs (id_col, title_col, tokens_col). ``round_scores``
    rounds each per-input score table before the fold (cross-engine
    oracle determinism).
    """
    from sparkrec.operators.bm25 import (
        bm25_contrib_expr, corpus_stats, doc_freqs, idf_expr, term_freqs,
    )

    if isinstance(inputs, str):  # str→[str] coercion (model.py:328-329)
        inputs = [inputs]
    if ratings is not None and len(ratings) != len(inputs):
        raise ValueError("ratings length must match inputs")

    inputs_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(inputs)], "ord int, title string"
    ).withColumnRenamed("title", title_col)
    found = docs.join(F.broadcast(inputs_df), title_col).select(
        "ord", F.col(id_col).alias("_qdoc"), F.col(tokens_col).alias("_qtoks")
    )
    # one driver action resolves the lookup (query-sized result): ords
    # drive the fold order, _qdoc ids drive the exclusion
    found_rows = found.select("ord", "_qdoc").collect()
    found_ords = {r["ord"] for r in found_rows}
    missed = [t for i, t in enumerate(inputs) if i not in found_ords]

    titles = docs.select(F.col(title_col).alias("title"))
    if missed:
        sugg = None
        for m in missed:
            s = fuzzy_suggestions(titles, m, n=5).withColumn(
                "missed_input", F.lit(m)
            )
            sugg = s if sugg is None else sugg.unionByName(s)
        suggestions = sugg.select("missed_input", "title", "similarity")
    else:
        suggestions = spark.createDataFrame(
            [], "missed_input string, title string, similarity double"
        )
    if not found_ords:
        empty = spark.createDataFrame([], f"{title_col} string, score double")
        return RecommendResult(empty, suggestions, missed)

    tokenized = docs.select(
        id_col, title_col, F.size(tokens_col).alias("doc_len"), tokens_col
    )
    tf = term_freqs(tokenized.select(id_col, "doc_len", tokens_col))
    dfr = doc_freqs(tf)
    n_docs, avgdl = corpus_stats(tokenized)
    qterms = (
        found.select("ord", F.explode("_qtoks").alias("term"))
        .groupBy("ord", "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
        .join(dfr, "term")
        .withColumn("idf", idf_expr(F.col("df"), n_docs))
    )
    contrib = tf.join(F.broadcast(qterms), "term").select(
        "ord", id_col,
        bm25_contrib_expr(
            F.col("tf"), F.col("doc_len"), F.col("idf"), F.col("qtf"), avgdl
        ).alias("contrib"),
    )
    scores = contrib.groupBy("ord", id_col).agg(F.sum("contrib").alias("score"))
    if round_scores is not None:
        scores = scores.withColumn("score", F.round("score", round_scores))
    # the scoring DAG (TF/DF/contrib subtree) is consumed once per input
    # by the fold's per-ord branches — cache it so the expensive subtree
    # computes once, not ×n_inputs (callers release via
    # session.release_caches after materializing the result)
    from sparkrec.session import scoped_cache

    scores = scoped_cache(scores)

    kept = sorted(found_ords)
    per_input = [
        scores.filter(F.col("ord") == o).select(id_col, "score") for o in kept
    ]
    weights = None
    if ratings is not None:
        if any(r < 0 or r > 10 for r in ratings):
            raise ValueError("ratings must be between 0 and 10.")
        weights = [ratings[o] for o in kept]
    folded = fold_multi_input_scores(per_input, weights, id_col=id_col)

    input_ids = [r["_qdoc"] for r in found_rows]
    top = exclude_inputs_topn(folded, input_ids, n, id_col=id_col)
    recs = top.join(
        docs.select(id_col, title_col), id_col
    ).select(title_col, "score", id_col)
    return RecommendResult(recs, suggestions, missed)


def fuzzy_suggestions(
    titles: DataFrame,
    missed: str,
    n: int = 5,
    title_col: str = "title",
) -> DataFrame:
    """Top-n closest titles by normalized levenshtein similarity
    (utils.py:24-57 analogue; SequenceMatcher.ratio → 1 - lev/maxlen,
    which both Spark and DuckDB evaluate identically on integers).
    Tie-break: title asc."""
    sim = F.round(
        F.lit(1.0)
        - F.levenshtein(F.lower(F.col(title_col)), F.lit(missed.lower()))
        .cast("double")
        / F.greatest(
            F.length(F.col(title_col)), F.lit(len(missed)), F.lit(1)
        ),
        6,
    )
    return (
        titles.select(F.col(title_col).alias("title"), sim.alias("similarity"))
        .orderBy(F.desc("similarity"), F.asc("title"))
        .limit(n)
    )
