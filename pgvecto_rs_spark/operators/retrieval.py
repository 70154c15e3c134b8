"""Lexical ranked retrieval (BM25) over a document table.

The vector side of this engine answers dense/sparse/binary ANN; this
module is the lexical complement — Okapi BM25 scoring of a literal
query against the whitespace-tokenized corpus, the standard first-stage
retriever next to embedding search in LLM data pipelines (and the
hybrid-retrieval partner of the ANN operators).

Scale shape (for literal queries, the common case — tens of terms):
per-term tf and dl are pure array-expression projections (no explode,
no shuffle, whole-stage codegen); the corpus statistics (N, avg doc
length, per-term document frequencies) reduce to ONE scalar row via a
single global aggregation whose partial combine runs map-side, then
broadcast back with a 1-row cross join.  Scoring is again a pure
projection, and the top-k is a TakeOrdered.  Net cost: two passes over
the corpus and k rows to the driver — no corpus-cardinality shuffle at
all.  (For query sets of thousands of terms an explode + term-keyed
join wins instead; that shape is `curation.unigram_lm_score`'s.)

Determinism: per-term score contributions are floored to 1e-6-scaled
integers before summation (see queries._scaled_sum's rationale), so
cross-engine float-sum ordering can never flip the ranking; ties break
on doc_id.

Reference analogue: none (pgvecto.rs delegates lexical search to
Postgres FTS); BM25 constants follow Robertson/Sparck-Jones with the
Lucene +1 idf floor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .curation import _norm_tokens

__all__ = ["bm25_score", "bm25_topk", "mmr_topk"]


def _tf(toks: Column, term: str) -> Column:
    return F.size(F.filter(toks, lambda x: x == F.lit(term)))


def bm25_score(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    materialize: bool = True,
) -> DataFrame:
    """Adds ``score_u`` (1e-6-scaled integer BM25 score vs the literal
    ``query_terms``) and ``dl`` (doc length in tokens) to every row.

    score = Σ_t idf_t · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf_t = ln((N − df_t + 0.5)/(df_t + 0.5) + 1); each term's
    contribution is floored to a scaled integer, so the total is exact
    integer arithmetic.

    SIDE EFFECT: with ``materialize=True`` (the default) the tokenized
    per-term tf relation is eagerly ``localCheckpoint``-ed — a Spark
    job runs AT CALL TIME and the narrow intermediate is pinned on
    executor block storage until the returned DataFrame is
    garbage-collected on the driver.  This halves the corpus scans
    (stats + scoring reuse one tokenization).  Pass
    ``materialize=False`` for a fully lazy plan (plan inspection,
    composition into a larger checkpointed pipeline) at the cost of
    tokenizing the corpus twice when executed.
    """
    # tokenize ONCE into a named column: inlining the regex tokenizer
    # into every term's tf expression multiplied the Catalyst tree
    # (n_terms + 1 copies to analyze/codegen — see curation.
    # token_ngram_strings for the same planning-tax pattern)
    toks = F.col("__toks")
    tokened = df.select(
        F.col(id_col), _norm_tokens(F.col(text_col)).alias("__toks")
    )
    # (id, dl, per-term tf) is consumed twice — corpus stats and the
    # per-doc scoring — on different shapes (global agg vs projection),
    # so without materialization the corpus scan + tokenization would
    # run twice; the checkpointed relation is narrow (one long per
    # term) while the input carries full text
    with_tf = tokened.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("dl"),
        *[_tf(toks, t).cast("long").alias(f"__tf_{i}") for i, t in enumerate(query_terms)],
    )
    if materialize:
        with_tf = with_tf.localCheckpoint(eager=True)
    stats = with_tf.agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.sum("dl").alias("__sum_dl"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("long")).alias(f"__df_{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = with_tf.crossJoin(F.broadcast(stats))
    avgdl = F.col("__sum_dl") / F.col("__n_docs")
    contribs = []
    for i in range(len(query_terms)):
        tf = F.col(f"__tf_{i}").cast("double")
        dfreq = F.col(f"__df_{i}").cast("double")
        idf = F.log(
            (F.col("__n_docs").cast("double") - dfreq + F.lit(0.5))
            / (dfreq + F.lit(0.5))
            + F.lit(1.0)
        )
        num = tf * F.lit(k1 + 1.0)
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl)
        )
        contribs.append(
            F.floor((idf * (num / denom)) * F.lit(1000000.0) + F.lit(0.5)).cast("long")
        )
    total = contribs[0]
    for c in contribs[1:]:
        total = total + c
    return scored.select(F.col(id_col), F.col("dl"), total.alias("score_u"))


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents by BM25 score (ties on doc id) — the ranked
    lexical retrieval query.  TakeOrdered keeps only k rows per
    partition before the single-partition merge."""
    scored = bm25_score(df, query_terms, text_col, id_col, k1, b)
    return scored.orderBy(F.desc("score_u"), id_col).limit(k)


def mmr_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    pool: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-``k`` (λ = 1/2):
    greedily pick the candidate maximizing
    ``λ·rel − (1−λ)·max_sim_to_selected``.

    Scale shape: the only corpus-cardinality work is the relevance scan
    — an integer-dot projection + TakeOrdered down to ``pool``
    candidates (k rows per partition cross the wire, exactly the
    `search.top_k` shape).  The greedy selection is inherently
    sequential with a k-term working set, so it runs on the bounded
    pool (≤ ``pool`` ≤ 8192 rows) driver-side in one numpy pass with an
    incrementally-updated max-similarity vector — O(pool·k) int64 dots.

    Determinism: vectors are quantized to 1e-6 fixed-point
    (`clustering._quantized` protocol) and λ = 1/2 makes the MMR
    objective order-equivalent to the INTEGER ``rel_u − maxsim_u``, so
    selection is bit-identical across engines and partitionings; ties
    break on ascending id.

    Reference analogue: none (pgvecto.rs returns raw distance order);
    MMR is the standard diversification rerank of RAG retrieval stacks
    (Carbonell & Goldstein, 1998).
    """
    if pool > 8192:
        raise ValueError("pool must stay driver-bounded (<= 8192)")
    import math

    import numpy as np

    from pgvecto_rs_spark.indexes.base import local_frame

    from .clustering import _quantized

    qu = [int(math.floor(float(x) * 1000000.0 + 0.5)) for x in query]
    qarr = F.array(*[F.lit(v).cast("long") for v in qu])
    rel = F.aggregate(
        F.zip_with(_quantized(vec_col), qarr, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = (
        df.select(
            F.col(id_col),
            _quantized(vec_col).alias("__xu"),
            rel.alias("rel_u"),
        )
        .orderBy(F.desc("rel_u"), F.col(id_col))
        .limit(pool)
        .collect()
    )
    spark = df.sparkSession
    out_schema = f"rnk int, {id_col} long, rel_u long, maxsim_u long"
    if not cand:
        return local_frame(spark, [], out_schema)
    ids = np.array([r[id_col] for r in cand], dtype=np.int64)
    X = np.array([r["__xu"] for r in cand], dtype=np.int64)
    rel_u = np.array([r["rel_u"] for r in cand], dtype=np.int64)
    # candidates arrive (rel desc, id asc); argmax-with-tiebreak below
    # relies only on numpy argmax returning the FIRST maximum, so
    # re-sort defensively by (-rel, id)
    order = np.lexsort((ids, -rel_u))
    ids, X, rel_u = ids[order], X[order], rel_u[order]
    n = len(ids)
    maxsim = np.full(n, np.iinfo(np.int64).min, dtype=np.int64)
    taken = np.zeros(n, dtype=bool)
    rows = []
    pick = 0  # first pick = argmax rel (ties id asc) = row 0 after sort
    for rank in range(1, min(k, n) + 1):
        rows.append(
            (
                rank,
                int(ids[pick]),
                int(rel_u[pick]),
                int(maxsim[pick]) if rank > 1 else 0,
            )
        )
        taken[pick] = True
        if rank == min(k, n):
            break
        np.maximum(maxsim, X @ X[pick], out=maxsim)
        score = rel_u - maxsim
        score[taken] = np.iinfo(np.int64).min
        best = score.max()
        # first index attaining best has the smallest id (rows are
        # rel-desc/id-asc sorted, and equal scores tie-break on id only
        # among equal (rel, maxsim) pairs) — resolve exactly instead:
        tie = np.where(score == best)[0]
        pick = tie[np.argmin(ids[tie])]
    return local_frame(spark, rows, out_schema)
