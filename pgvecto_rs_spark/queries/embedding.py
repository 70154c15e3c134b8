"""Embedding-pipeline queries: offline hash embeddings, chunk
pooling/top-k, BPE, mixture sampling, MaxSim, k-means/SemDeDup/MMR/
LOF, BM25 and hybrid RRF retrieval."""

from __future__ import annotations

import math
import glob
import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pgvecto_rs_spark.functions import binary as VB
from pgvecto_rs_spark.functions import dense as VD
from pgvecto_rs_spark.functions import sparse as VS
from pgvecto_rs_spark.indexes.base import local_frame
from pgvecto_rs_spark.operators import asof as OA
from pgvecto_rs_spark.operators import clustering as CL
from pgvecto_rs_spark.operators import curation as CU
from pgvecto_rs_spark.operators import dedup as DD
from pgvecto_rs_spark.operators import retrieval as RT
from pgvecto_rs_spark.operators import search as SR
from pgvecto_rs_spark.operators import textanalysis as TA

from pgvecto_rs_spark.queries._core import (  # noqa: F401
    DIMS,
    Q64,
    Q64_SQL,
    SPARSE_THRESHOLD,
    RANGE_RADIUS,
    STOPWORDS_SQL,
    QueryFn,
    register,
    _REGISTRY,
    _q_col,
    _tune,
    _emb,
    _docs,
    _events,
    _r4,
    _r4t,
    _scaled_sum,
    _SQL_L2,
    _SQL_DOT,
    _SQL_NORMSQ_E,
    _Q_NORM,
    _tmp_index_dir,
    _open_cached,
    _Memo,
)




# doc_embed_hash_topk oracle: DuckDB reads an independently materialized
# (numpy, no Spark) parquet of the deterministic hash embeddings — the
# vecf16 pattern — then runs the same cosine top-k in SQL.
_DOC_EMBED_ORACLE_FILE = "/tmp/pgvrs_doc_embed_oracle.parquet"
_DOC_EMBED_QUERY_TEXT = "table scan query filter join"


def _doc_embed_qv() -> list[float]:
    from pgvecto_rs_spark.sources.embedding import _hash_provider

    return [float(x) for x in _hash_provider(64)([_DOC_EMBED_QUERY_TEXT])[0]]


def _materialize_doc_embed_oracle(sf_dir: str) -> None:
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pgvecto_rs_spark.sources.embedding import _hash_provider

    # Embedding 5k+ docs driver-side costs seconds — skip when the file
    # was already built from this exact source (sidecar records the
    # sf_dir + source mtime; a different SF or regenerated testdata
    # invalidates it).
    src = f"{sf_dir}/documents.parquet"
    sidecar = _DOC_EMBED_ORACLE_FILE + ".src.json"
    key = {"sf_dir": sf_dir, "mtime": os.path.getmtime(src)}
    try:
        with open(sidecar) as fh:
            if json.load(fh) == key and os.path.exists(_DOC_EMBED_ORACLE_FILE):
                return
    except (OSError, ValueError):
        pass

    tbl = pq.read_table(src, columns=["doc_id", "text"])
    texts = [t or "" for t in tbl.column("text").to_pylist()]
    embs = _hash_provider(64)(texts)
    out = pa.table(
        {
            "doc_id": tbl.column("doc_id"),
            "emb": pa.array([row.tolist() for row in embs], type=pa.list_(pa.float32())),
        }
    )
    pq.write_table(out, _DOC_EMBED_ORACLE_FILE)
    with open(sidecar, "w") as fh:
        json.dump(key, fh)


_QDOC_SQL = "[" + ", ".join(repr(x) for x in _doc_embed_qv()) + "]"
_SQL_DOC_DOT = (
    "list_sum(list_transform(range(1, 65), "
    f"i -> CAST(emb[i] AS DOUBLE) * ({_QDOC_SQL})[i]))"
)
_SQL_DOC_NORMSQ = (
    "list_sum(list_transform(range(1, 65), "
    "i -> CAST(emb[i] AS DOUBLE) * CAST(emb[i] AS DOUBLE)))"
)


# whole-doc hash embeddings are shared by doc_embed_hash_topk and the
# hybrid retriever — materialize once per (file, session)
_DOC_EMBEDDED_CACHE = _Memo(4)


def _doc_hash_embedded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pgvecto_rs_spark.sources.embedding import text2vec_hash

    return _DOC_EMBEDDED_CACHE.get(
        spark, f"{sf_dir}/documents.parquet",
        lambda: _docs(spark, sf_dir)
        .select("doc_id", text2vec_hash("text", 64).alias("emb"))
        .localCheckpoint(eager=True),
    )



@register(
    "doc_embed_hash_topk",
    f"""
    SELECT doc_id, ROUND(d, 4) AS dist FROM (
      SELECT doc_id,
             1.0 - ({_SQL_DOC_DOT})
                   / SQRT(({_SQL_DOC_NORMSQ}) * {sum(x * x for x in _doc_embed_qv())!r}) AS d
      FROM '{_DOC_EMBED_ORACLE_FILE}'
    ) ORDER BY d, doc_id LIMIT 10
    """,
)
def doc_embed_hash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> deterministic hash embedding -> cosine top-10 to an
    embedded query string (text2vec analogue, src/embedding/mod.rs).
    Pays the embedding cost itself (it IS the embed+search benchmark);
    only the hybrid fusion query reuses the materialized stage."""
    from pgvecto_rs_spark.operators.search import top_k as tk
    from pgvecto_rs_spark.sources.embedding import text2vec_hash

    _materialize_doc_embed_oracle(sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", text2vec_hash("text", 64).alias("emb"))
    qv = _doc_embed_qv()
    out = tk(docs, "emb", qv, 10, metric="cos", tiebreaker="doc_id")
    return out.select("doc_id", _r4(F.col("distance")).alias("dist"))


# chunk_embed_topk oracle: independently materialized chunk embeddings
# (pure python/numpy chunking + the same deterministic hash provider) —
# proves the whole docs -> chunks -> embed -> top-k loop end-to-end.
_CHUNK_EMBED_ORACLE_FILE = "/tmp/pgvrs_chunk_embed_oracle.parquet"


def _materialize_chunk_embed_oracle(sf_dir: str) -> None:
    import json
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pgvecto_rs_spark.sources.embedding import _hash_provider

    src = f"{sf_dir}/documents.parquet"
    sidecar = _CHUNK_EMBED_ORACLE_FILE + ".src.json"
    key = {"sf_dir": sf_dir, "mtime": os.path.getmtime(src)}
    try:
        with open(sidecar) as fh:
            if json.load(fh) == key and os.path.exists(_CHUNK_EMBED_ORACLE_FILE):
                return
    except (OSError, ValueError):
        pass

    tbl = pq.read_table(src, columns=["doc_id", "text"])
    ids, chunk_nos, texts = [], [], []
    for did, text in zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()):
        # independent reimplementation of curation.chunk_documents
        # (32-token windows, stride 24) — ASCII regex to match Java \s
        toks = re.sub(r"\s+", " ", (text or "").strip().lower(), flags=re.ASCII).split(" ")
        if toks == [""]:
            continue
        extra = max(len(toks) - 32, 0)
        n_chunks = 1 + -(-extra // 24)  # 1 + ceil(extra/stride)
        for c in range(n_chunks):
            ids.append(did)
            chunk_nos.append(c)
            texts.append(" ".join(toks[c * 24 : c * 24 + 32]))
    embs = _hash_provider(64)(texts)
    out = pa.table(
        {
            "doc_id": pa.array(ids, type=pa.int64()),
            "chunk_no": pa.array(chunk_nos, type=pa.int32()),
            "emb": pa.array([row.tolist() for row in embs], type=pa.list_(pa.float32())),
        }
    )
    pq.write_table(out, _CHUNK_EMBED_ORACLE_FILE)
    with open(sidecar, "w") as fh:
        json.dump(key, fh)


@register(
    "chunk_embed_pool",
    f"""
    SELECT doc_id, CAST(ord - 1 AS BIGINT) AS pos,
           CAST(FLOOR(CAST(SUM(CAST(FLOOR(val * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                      / COUNT(*) + 0.5) AS BIGINT) AS pooled_u
    FROM (
      SELECT doc_id, CAST(unnest(emb) AS DOUBLE) AS val,
             generate_subscripts(emb, 1) AS ord
      FROM '{_CHUNK_EMBED_ORACLE_FILE}'
    ) WHERE ord <= 8
    GROUP BY doc_id, ord
    """,
)
def chunk_embed_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk→document embedding pooling — the mean-pool step that turns
    per-chunk embeddings back into one document vector for doc-level
    retrieval/dedup (the array-level operator is aggregates.avg_vector,
    oracle-checked by agg_avg_vector; here the pooled components are
    compared as micro-scaled integers so the cross-engine float-sum
    order can't shift a rounding boundary).  First 8 dims per doc keep
    the gate row count bounded; the plan shape (posexplode → (doc,pos)
    partial agg) is dimension-independent."""
    _materialize_chunk_embed_oracle(sf_dir)
    embedded = _embedded_chunks(spark, sf_dir).select("doc_id", "emb")
    exploded = embedded.select(
        "doc_id", F.posexplode("emb").alias("pos", "val")
    ).where(F.col("pos") < 8)
    su = F.sum(
        F.floor(F.col("val").cast("double") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    )
    return (
        exploded.groupBy("doc_id", F.col("pos").cast("long").alias("pos"))
        .agg(
            F.floor(su.cast("double") / F.count(F.lit(1)) + F.lit(0.5))
            .cast("long")
            .alias("pooled_u")
        )
    )


_EMBEDDED_CHUNKS_CACHE = _Memo(4)


def _embedded_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunk+embed stage shared by chunk_embed_topk / _pool /
    doc_maxsim_topk, materialized once per (file, session): the
    text2vec UDF is the expensive stage and its output is identical
    across the three consumers, so an eager localCheckpoint pays it
    once (the kmeans/bpe memoization pattern).  Single-file input
    arrives as 1 partition; _spread lets chunking AND the embedding UDF
    parallelize (chunk_documents itself stays shuffle-free)."""
    from pgvecto_rs_spark.sources.embedding import text2vec_hash

    def build():
        chunks = CU.chunk_documents(
            DD._spread(_docs(spark, sf_dir)), chunk_tokens=32, overlap=8
        )
        return chunks.select(
            "doc_id", "chunk_no", text2vec_hash("chunk_text", 64).alias("emb")
        ).localCheckpoint(eager=True)

    return _EMBEDDED_CHUNKS_CACHE.get(spark, f"{sf_dir}/documents.parquet", build)



@register(
    "chunk_embed_topk",
    f"""
    SELECT doc_id, chunk_no, ROUND(d, 4) AS dist FROM (
      SELECT doc_id, chunk_no,
             1.0 - ({_SQL_DOC_DOT})
                   / SQRT(({_SQL_DOC_NORMSQ}) * {sum(x * x for x in _doc_embed_qv())!r}) AS d
      FROM '{_CHUNK_EMBED_ORACLE_FILE}'
    ) ORDER BY d, doc_id, chunk_no LIMIT 10
    """,
)
def chunk_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full retrieval loop in one query: documents -> overlapping
    context-window chunks (curation.chunk_documents) -> deterministic
    hash embeddings (text2vec analogue) -> cosine top-10 chunks for an
    embedded query string.  Oracle side re-derives the chunk table and
    its embeddings independently (pure python/numpy) and runs the same
    top-k in SQL.  Pays the chunk+embed cost itself (it IS the
    retrieval-loop benchmark); the derived stage consumers
    (chunk_embed_pool, doc_maxsim_topk) reuse _embedded_chunks."""
    from pgvecto_rs_spark.sources.embedding import text2vec_hash

    _materialize_chunk_embed_oracle(sf_dir)
    chunks = CU.chunk_documents(
        DD._spread(_docs(spark, sf_dir)), chunk_tokens=32, overlap=8
    )
    embedded = chunks.select(
        "doc_id", "chunk_no", text2vec_hash("chunk_text", 64).alias("emb")
    )
    qv = _doc_embed_qv()
    q = F.array(*[F.lit(float(x)) for x in qv]).cast("array<float>")
    d = VD.cosine_distance(F.col("emb"), q, check=False)
    return (
        embedded.select("doc_id", "chunk_no", d.alias("d"))
        .orderBy("d", "doc_id", "chunk_no")
        .limit(10)
        .select("doc_id", "chunk_no", _r4(F.col("d")).alias("dist"))
    )


def _bpe_round_ctes(rounds: int, apply_last: bool) -> list[str]:
    """Shared CTE chain for the BPE oracles (see curation.bpe_train):
    per round, pair counts → argmax → list_reduce greedy merge.  All
    counts are integer, so every round's argmax is engine-exact.
    ``apply_last`` also materializes s{rounds} with the final rule
    applied (needed by the encode oracle, not by the train oracle)."""
    parts = [
        r"""w AS (
      SELECT word, COUNT(*) AS freq FROM (
        SELECT unnest(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS word
        FROM documents WHERE length(trim(text)) > 0
      ) GROUP BY word
    )""",
        """s0 AS (
      SELECT word, freq,
             list_transform(range(1, length(word) + 1), i -> substr(word, i, 1)) AS seq
      FROM w WHERE length(word) > 0
    )""",
    ]
    for r in range(rounds):
        parts.append(
            f"""p{r} AS (
      SELECT pr.a AS a, pr.b AS b, CAST(SUM(freq) AS BIGINT) AS c
      FROM (SELECT freq, unnest(list_transform(range(1, len(seq)),
                      i -> struct_pack(a := seq[i], b := seq[i+1]))) AS pr
            FROM s{r} WHERE len(seq) >= 2)
      GROUP BY 1, 2
    )"""
        )
        parts.append(
            f"best{r} AS (SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1)"
        )
        if apply_last or r < rounds - 1:
            parts.append(
                f"""s{r + 1} AS (
      SELECT word, freq,
             CASE WHEN len(seq) < 2 THEN seq ELSE
               string_split(list_reduce(seq, (acc, s) -> CASE
                 WHEN array_extract(string_split(acc, chr(31)), -1) = best{r}.a AND s = best{r}.b
                 THEN substr(acc, 1, length(acc) - length(best{r}.a)) || best{r}.a || best{r}.b
                 ELSE acc || chr(31) || s END), chr(31)) END AS seq
      FROM s{r} CROSS JOIN best{r}
    )"""
            )
    return parts


def _bpe_oracle_sql(rounds: int = 3) -> str:
    parts = _bpe_round_ctes(rounds, apply_last=False)
    selects = "\n    UNION ALL\n    ".join(
        f"SELECT {r} AS round, a, b, c FROM best{r}" for r in range(rounds)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + selects


def _bpe_pair_counts_sql(src: str, dst: str) -> str:
    return f"""{dst} AS (
      SELECT pr.a AS a, pr.b AS b, CAST(SUM(freq) AS BIGINT) AS c
      FROM (SELECT freq, unnest(list_transform(range(1, len(seq)),
                      i -> struct_pack(a := seq[i], b := seq[i+1]))) AS pr
            FROM {src} WHERE len(seq) >= 2)
      GROUP BY 1, 2
    )"""


def _bpe_apply_sql(src: str, dst: str, m: str) -> str:
    """CTE applying merge-rule CTE ``m`` (0 or 1 rows: a, b) to seq
    table ``src`` — same greedy list_reduce fold as _bpe_round_ctes.

    Guarded against an EMPTY ``m`` (fewer than ``batch`` compatible
    candidates in the top-``scan`` ranking): a LEFT JOIN with a NULL
    pass-through keeps the sequence relation intact where a CROSS JOIN
    would empty it and corrupt every subsequent round.  (When a round
    under-fills, bpe_train runs an extra driver round to finish the
    schedule, so the replayed rule LIST still comes up short — the
    driver gate then fails loudly on row count instead of silently
    hashing a corrupted relation.)"""
    return f"""{dst} AS (
      SELECT word, freq,
             CASE WHEN mm.a IS NULL OR len(seq) < 2 THEN seq ELSE
               string_split(list_reduce(seq, (acc, s) -> CASE
                 WHEN array_extract(string_split(acc, chr(31)), -1) = mm.a AND s = mm.b
                 THEN substr(acc, 1, length(acc) - length(mm.a)) || mm.a || mm.b
                 ELSE acc || chr(31) || s END), chr(31)) END AS seq
      FROM {src} LEFT JOIN {m} mm ON TRUE
    )"""


def _bpe_batched_oracle_sql(rounds: int, batch: int, scan: int = 64) -> str:
    """Statically-unrolled replay of curation.bpe_train(batch=K): per
    driver round, rank pair counts (c DESC, a, b), scan the top
    ``scan`` in order and accept the first K candidates compatible
    with every already-accepted merge of the round
    (curation._bpe_compatible: neither symbol may be an accepted
    merge's left, right, or product), then apply the K folds in
    acceptance order.  ``rounds`` must be a multiple of ``batch`` so
    the batch count unrolls statically."""
    assert rounds % batch == 0, "static unroll needs rounds % batch == 0"
    n_batches = rounds // batch
    parts = _bpe_round_ctes(0, apply_last=False)  # just w + s0

    def compat(t: str, m: str) -> str:
        return (
            f"{t}.a NOT IN ({m}.a, {m}.b, {m}.a || {m}.b) "
            f"AND {t}.b NOT IN ({m}.a, {m}.b, {m}.a || {m}.b)"
        )

    rule_selects: list[str] = []
    for r in range(n_batches):
        parts.append(_bpe_pair_counts_sql(f"s{r}", f"p{r}"))
        parts.append(
            f"""t{r} AS (
      SELECT a, b, c, ROW_NUMBER() OVER (ORDER BY c DESC, a, b) AS rn
      FROM p{r} QUALIFY rn <= {scan}
    )"""
        )
        for j in range(batch):
            m = f"m{r}_{j}"
            if j == 0:
                parts.append(f"{m} AS (SELECT a, b, c, rn FROM t{r} WHERE rn = 1)")
            else:
                prevs = [f"m{r}_{i}" for i in range(j)]
                froms = ", ".join([f"t{r} t"] + [f"{p} {p}x" for p in prevs])
                conds = " AND ".join(
                    [f"t.rn > m{r}_{j - 1}x.rn"]
                    + [compat("t", f"{p}x") for p in prevs]
                )
                parts.append(
                    f"""{m} AS (
      SELECT t.a, t.b, t.c, t.rn FROM {froms}
      WHERE {conds} ORDER BY t.rn LIMIT 1
    )"""
                )
            src = f"s{r}" if j == 0 else f"s{r}_a{j - 1}"
            dst = f"s{r + 1}" if j == batch - 1 else f"s{r}_a{j}"
            parts.append(_bpe_apply_sql(src, dst, m))
            rule_selects.append(
                f"SELECT {r * batch + j} AS rule, a, b, c FROM m{r}_{j}"
            )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    "
        + "\n    UNION ALL\n    ".join(rule_selects)
    )


def _bpe_encode_oracle_sql(rounds: int) -> str:
    """Train in SQL (same CTE chain as the merges oracle), then encode:
    apply all learned rules to the vocabulary and join the word →
    subtoken-count map back onto per-document word counts."""
    parts = _bpe_round_ctes(rounds, apply_last=True)
    parts.append(
        r"""dw AS (
      SELECT doc_id, word, COUNT(*) AS cnt FROM (
        SELECT doc_id,
               unnest(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS word
        FROM documents WHERE length(trim(text)) > 0
      ) GROUP BY 1, 2
    )"""
    )
    parts.append(f"sub AS (SELECT word, len(seq) AS n_sub FROM s{rounds})")
    final = (
        "SELECT dw.doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,\n"
        "           CAST(SUM(cnt * n_sub) AS BIGINT) AS n_bpe_tokens\n"
        "    FROM dw JOIN sub USING (word) GROUP BY dw.doc_id"
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + final


# bpe_train's argmax rounds are deterministic on the input file, so
# memoize per (file, session, rounds) — doc_bpe_merges and doc_bpe_tokens
# share a session without retraining
_BPE_CACHE = _Memo(4)


def _bpe_merges_cached(spark, sf_dir: str, rounds: int):
    return _BPE_CACHE.get(
        spark, f"{sf_dir}/documents.parquet",
        lambda: CU.bpe_train(_docs(spark, sf_dir), rounds=rounds), rounds,
    )


@register("doc_bpe_merges", _bpe_oracle_sql(3))
def doc_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training, 3 merge rounds over the
    corpus vocabulary: the learned merge rules with their weighted pair
    counts.  Trains on the distinct-word+frequency table (orders
    smaller than the corpus); per round one pair-keyed aggregation and
    a single argmax row to the driver; merges apply as a native
    `aggregate` fold projection (curation.bpe_train)."""
    merges = _bpe_merges_cached(spark, sf_dir, rounds=3)
    return local_frame(spark, merges, "round int, a string, b string, c long")


@register("doc_bpe_tokens", _bpe_encode_oracle_sql(6))
def doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION — the step after training that a data
    pipeline runs over every document: per-doc raw-word and BPE-token
    counts under a 6-rule vocabulary learned from the same corpus
    (curation.bpe_encode_counts).  Merge rules apply to the
    distinct-word table only (one fold projection per rule); the word →
    subtoken-count map equi-joins back onto per-doc word counts — the
    raw token stream is never re-folded.  The oracle re-trains AND
    re-encodes entirely in DuckDB SQL (list_reduce greedy merge), so
    both the learned rules and their application are cross-engine
    exact."""
    merges = _bpe_merges_cached(spark, sf_dir, rounds=6)
    return CU.bpe_encode_counts(_docs(spark, sf_dir), merges)


@register("doc_bpe_batched", _bpe_batched_oracle_sql(rounds=6, batch=3))
def doc_bpe_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BPE training (curation.bpe_train batch=3): 6 merge
    rules learned in TWO driver round-trips instead of six — each round
    collects the top-64 pair counts once and accepts the first 3
    mutually-compatible candidates (disjoint symbols, neither equal to
    an earlier accepted product, so accepted counts stay exact within
    the batch).  The oracle statically unrolls the same schedule in
    DuckDB (ROW_NUMBER ranking + the same compatibility predicate +
    chained list_reduce folds), proving the batched schedule
    rule-for-rule.  This is the latency fix for 32k-merge production
    vocabularies (≈rounds/batch Spark jobs instead of rounds)."""
    merges = CU.bpe_train(_docs(spark, sf_dir), rounds=6, batch=3)
    return local_frame(spark, merges, "rule int, a string, b string, c long")


# doc_mixture_sample oracle: quotas are an INPUT to the distributed
# sampling operator (computed driver-side from the tiny per-source count
# table); the Spark query materializes them to parquet so the oracle
# applies the SAME quotas and the gate verifies the distributed part —
# deterministic md5-ordered per-source selection.
_MIXTURE_QUOTA_FILE = "/tmp/pgvrs_mixture_quotas.parquet"


@register(
    "doc_mixture_sample",
    f"""
    WITH q AS (SELECT * FROM '{_MIXTURE_QUOTA_FILE}'),
    ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents WHERE n_chars >= 250
    )
    SELECT doc_id, source FROM ranked JOIN q USING (source) WHERE rk <= quota
    """,
)
def doc_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based data mixing (p_s ∝ n_s^0.7) over the quality-
    filtered corpus: a quality cut (n_chars ≥ 250) leaves unequal
    per-source survivor counts, temperature_quotas rebalances them into
    integer quotas spending 40% of the survivors, and quota_sample
    keeps each source's quota by deterministic md5(id) order — the
    standard multi-source rebalancing step before training.

    Scale shape: the per-source COUNT table (one tiny aggregation) is
    the only thing the driver sees; the sample itself is one
    source-keyed window rank, no collect of data rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = _docs(spark, sf_dir).where(F.col("n_chars") >= 250).select(
        "doc_id", "source"
    )
    counts = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = int(0.4 * sum(counts.values()))
    quotas = CU.temperature_quotas(counts, total, temperature=0.7)
    names = sorted(quotas)
    pq.write_table(
        pa.table(
            {
                "source": pa.array(names, type=pa.string()),
                "quota": pa.array([quotas[s] for s in names], type=pa.int64()),
            }
        ),
        _MIXTURE_QUOTA_FILE,
    )
    return CU.quota_sample(docs, quotas).select("doc_id", "source")


_MAXSIM_QUERY_TERMS = ["table scan filter", "merge sort window", "hash join spark"]


def _maxsim_qvs() -> list[list[float]]:
    from pgvecto_rs_spark.sources.embedding import _hash_provider

    prov = _hash_provider(64)
    return [[float(x) for x in prov([t])[0]] for t in _MAXSIM_QUERY_TERMS]


def _sql_chunk_cos(qv: list[float]) -> str:
    """DuckDB cosine-distance expression against a literal query vector,
    spelled exactly like functions/dense.cosine_distance."""
    q_sql = "[" + ", ".join(repr(x) for x in qv) + "]"
    dot = (
        "list_sum(list_transform(range(1, 65), "
        f"i -> CAST(emb[i] AS DOUBLE) * ({q_sql})[i]))"
    )
    nsq = (
        "list_sum(list_transform(range(1, 65), "
        "i -> CAST(emb[i] AS DOUBLE) * CAST(emb[i] AS DOUBLE)))"
    )
    return f"1.0 - ({dot}) / SQRT(({nsq}) * {sum(x * x for x in qv)!r})"


def _maxsim_sql() -> str:
    qvs = _maxsim_qvs()
    d_cols = ",\n             ".join(
        f"{_sql_chunk_cos(qv)} AS d{i}" for i, qv in enumerate(qvs)
    )
    mins = ", ".join(f"MIN(d{i}) AS m{i}" for i in range(len(qvs)))
    # score spelled left-associatively: ((s0 + s1) + s2)
    score = "(1.0 - m0)"
    for i in range(1, len(qvs)):
        score = f"({score} + (1.0 - m{i}))"
    return f"""
    WITH sims AS (
      SELECT doc_id,
             {d_cols}
      FROM '{_CHUNK_EMBED_ORACLE_FILE}'
    ), agg AS (
      SELECT doc_id, {mins} FROM sims GROUP BY doc_id
    )
    SELECT doc_id, FLOOR({score} * 10000.0 + 0.5) / 10000.0 AS maxsim
    FROM agg ORDER BY {score} DESC, doc_id LIMIT 10
    """


@register("doc_maxsim_topk", _maxsim_sql())
def doc_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim) retrieval: each query
    token-vector takes its best-matching chunk per document; the doc
    score is the sum of those maxima — the multi-vector retrieval model
    over the chunked+embedded corpus.

    Scale shape: chunking and embedding are the shuffle-free
    chunk_embed pipeline; the per-(doc, query-vector) max is ONE
    doc-keyed aggregation with map-side partial MIN; top-10 is
    TakeOrdered.  Determinism: distances are the same IEEE expression
    tree both engines; MIN/MAX of identical doubles is order-free
    (unlike SUM, no rounding accumulates)."""
    _materialize_chunk_embed_oracle(sf_dir)
    embedded = _embedded_chunks(spark, sf_dir).select("doc_id", "emb")
    qvs = _maxsim_qvs()
    d_cols = [
        VD.cosine_distance(
            F.col("emb"),
            F.array(*[F.lit(x) for x in qv]).cast("array<float>"),
            check=False,
        ).alias(f"d{i}")
        for i, qv in enumerate(qvs)
    ]
    agg = (
        embedded.select("doc_id", *d_cols)
        .groupBy("doc_id")
        .agg(*[F.min(f"d{i}").alias(f"m{i}") for i in range(len(qvs))])
    )
    score = F.lit(1.0) - F.col("m0")
    for i in range(1, len(qvs)):
        score = score + (F.lit(1.0) - F.col(f"m{i}"))
    return (
        agg.select("doc_id", score.alias("__s"))
        .orderBy(F.desc("__s"), "doc_id")
        .limit(10)
        .select("doc_id", _r4t(F.col("__s")).alias("maxsim"))
    )


def _kmeans_oracle_sql(k: int = 8, iters: int = 2, dims: int = DIMS) -> str:
    """Unrolled fixed-point Lloyd iterations (see operators/clustering.py:
    all arithmetic is int64, so both engines are bit-identical).  The
    oracle unrolls `iters` update steps + a final assignment as chained
    CTEs; the Spark side runs the same protocol iteratively."""
    d2 = (
        f"list_sum(list_transform(range(1, {dims + 1}), "
        f"i -> (v.xu[i] - cc.c[i]) * (v.xu[i] - cc.c[i])))"
    )

    def assign(a: str, c: str) -> str:
        return f"""{a} AS (
      SELECT vec_id, xu, j, d FROM (
        SELECT vec_id, xu, j, d,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn
        FROM (
          SELECT v.vec_id, v.xu, cc.j, {d2} AS d
          FROM v, {c} cc
        )
      ) WHERE rn = 1
    )"""

    def update(cnew: str, cold: str, a: str) -> str:
        return f"""{cnew} AS (
      SELECT {cold}.j, COALESCE(u.c, {cold}.c) AS c
      FROM {cold} LEFT JOIN (
        SELECT j, list(CAST(FLOOR(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
        FROM (
          SELECT {a}.j, r.i, SUM({a}.xu[r.i]) AS s, COUNT(*) AS n
          FROM {a}, (SELECT unnest(range(1, {dims + 1})) AS i) r
          GROUP BY {a}.j, r.i
        ) GROUP BY j
      ) u ON u.j = {cold}.j
    )"""

    parts = [
        f"""v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS xu
      FROM embeddings
    )""",
        f"""c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, xu AS c
      FROM (SELECT vec_id, xu FROM v ORDER BY vec_id LIMIT {k})
    )""",
    ]
    for it in range(iters):
        parts.append(assign(f"a{it}", f"c{it}"))
        parts.append(update(f"c{it + 1}", f"c{it}", f"a{it}"))
    parts.append(assign(f"a{iters}", f"c{iters}"))
    return "WITH " + ",\n    ".join(parts), f"a{iters}"


def _kmeans_full_sql(k: int = 8, iters: int = 2, dims: int = DIMS) -> str:
    ctes, final = _kmeans_oracle_sql(k, iters, dims)
    return (
        ctes
        + f"""
    SELECT j AS cluster_id, COUNT(*) AS n_vecs, CAST(SUM(d) AS BIGINT) AS inertia_u
    FROM {final} GROUP BY j
    """
    )


def _semdedup_sql(k: int = 8, iters: int = 2, dims: int = DIMS, tau: float = 0.9) -> str:
    ctes, final = _kmeans_oracle_sql(k, iters, dims)
    return (
        ctes
        + f""",
    nrm AS (
      SELECT vec_id, j, xu,
             list_sum(list_transform(range(1, {dims + 1}), i -> xu[i] * xu[i])) AS nsq
      FROM {final}
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM nrm a JOIN nrm b ON a.j = b.j AND a.vec_id < b.vec_id
      WHERE a.nsq > 0 AND b.nsq > 0
        AND CAST(list_sum(list_transform(range(1, {dims + 1}), i -> a.xu[i] * b.xu[i])) AS DOUBLE)
            / (SQRT(CAST(a.nsq AS DOUBLE)) * SQRT(CAST(b.nsq AS DOUBLE))) >= {tau!r}
    )
    SELECT n.vec_id, n.j AS cluster,
           n.vec_id NOT IN (SELECT vec_id FROM dropped) AS kept
    FROM nrm n
    """
    )


# kmeans_fit is a multi-job driver loop (init collect + one aggregation
# per Lloyd iteration); the centroids are a pure function of the input
# file, so memoize per (file, mtime, k, iters) — the emb_kmeans and
# emb_semdedup queries share one fit, like index builds share a cached
# index.  The result is deterministic (fixed-point protocol), so caching
# cannot change any answer.
_KMEANS_CACHE = _Memo(4)


def _parquet_rows(path: str) -> int:
    """Row count from parquet footer metadata — no Spark job.  Handles
    both a single parquet file and a Spark-written directory dataset
    (read_metadata only accepts a file — r10 advice)."""
    import pyarrow.parquet as _pq

    if os.path.isdir(path):
        # recursive: a partitioned Spark dataset nests part files under
        # key=*/ subdirs — a top-level-only glob would silently return 0
        # and skew any caller deriving k or a sample size (r11 advice)
        files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        # an existing directory with zero part files (e.g. an empty Spark
        # write that left only _SUCCESS) is a legitimate 0-row dataset —
        # callers that tolerated n=0 must keep getting 0, not an exception
        # (r12 advice); a missing path still raises via read_metadata below
        return sum(_pq.read_metadata(f).num_rows for f in files)
    return _pq.read_metadata(path).num_rows


def _kmeans_cents(spark: SparkSession, sf_dir: str, k: int = 8, iters: int = 2):
    return _KMEANS_CACHE.get(
        spark, f"{sf_dir}/embeddings.parquet",
        lambda: CL.kmeans_fit(_emb(spark, sf_dir), k=k, iters=iters), k, iters,
    )


@register("emb_kmeans", _kmeans_full_sql())
def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-point k-means (k=8, 2 Lloyd updates) over the
    embeddings table: per-cluster sizes and exact integer inertia.
    Reproducible by construction — int64 distances and floor-div
    centroid updates make every engine/run/partitioning bit-identical
    (operators/clustering.py)."""
    emb = _emb(spark, sf_dir)
    cents = _kmeans_cents(spark, sf_dir)
    out = CL.kmeans_assign(emb, cents)
    return out.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.sum("dist_u").alias("inertia_u")
    ).select(F.col("cluster").alias("cluster_id"), "n_vecs", "inertia_u")


def _mmr_sql(k: int = 10, pool: int = 64, dims: int = DIMS) -> str:
    """Unrolled greedy MMR selection (λ=1/2 ⇒ pure-integer objective
    rel_u − maxsim_u; see operators/retrieval.mmr_topk).  Round r: max
    int-dot of each unselected pool row against the selected set, then
    a 1-row argmax with id tie-break."""
    qu = [int(math.floor(float(x) * 1000000.0 + 0.5)) for x in Q64]
    qsql = "[" + ", ".join(str(v) for v in qu) + "]"
    dot_pq = (
        f"CAST(list_sum(list_transform(range(1, {dims + 1}), "
        f"i -> xu[i] * qu[i])) AS BIGINT)"
    )
    dot_ps = (
        f"CAST(list_sum(list_transform(range(1, {dims + 1}), "
        f"i -> p.xu[i] * s.xu[i])) AS BIGINT)"
    )
    parts = [
        f"""v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS xu
      FROM embeddings
    )""",
        f"""pool AS MATERIALIZED (
      SELECT vec_id, xu, {dot_pq} AS rel_u
      FROM v, (SELECT CAST({qsql} AS BIGINT[]) AS qu)
      ORDER BY rel_u DESC, vec_id LIMIT {pool}
    )""",
        """sel1 AS MATERIALIZED (
      SELECT CAST(1 AS INTEGER) AS rnk, vec_id, xu, rel_u, CAST(0 AS BIGINT) AS maxsim_u
      FROM pool ORDER BY rel_u DESC, vec_id LIMIT 1
    )""",
    ]
    prev = "sel1"
    for r in range(2, k + 1):
        parts.append(
            f"""ms{r} AS (
      SELECT p.vec_id, MAX({dot_ps}) AS maxsim_u
      FROM pool p, {prev} s
      WHERE p.vec_id NOT IN (SELECT vec_id FROM {prev})
      GROUP BY p.vec_id
    )""",
        )
        parts.append(
            f"""sel{r} AS MATERIALIZED (
      SELECT * FROM (
        SELECT * FROM {prev}
        UNION ALL
        SELECT CAST({r} AS INTEGER) AS rnk, p.vec_id, p.xu, p.rel_u, m.maxsim_u
        FROM pool p JOIN ms{r} m ON p.vec_id = m.vec_id
      ) ORDER BY rnk, rel_u - maxsim_u DESC, vec_id LIMIT {r}
    )""",
        )
        prev = f"sel{r}"
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT rnk, vec_id, rel_u, maxsim_u FROM {prev}"
    )


@register("emb_mmr_topk", _mmr_sql())
def emb_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-10 (λ=1/2, pool=64) for the shared Q64
    query: integer-exact greedy rerank over a TakeOrdered relevance
    pool (operators/retrieval.mmr_topk)."""
    return RT.mmr_topk(_emb(spark, sf_dir), Q64, k=10, pool=64)


@register(
    "emb_outliers",
    """
    SELECT vec_id, kdist FROM (
      SELECT vec_id, ROUND(d, 4) AS kdist FROM (
        SELECT a.vec_id,
               list_distance(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) ^ 2 AS d,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY list_distance(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])),
                          b.vec_id
               ) AS rn
        FROM embeddings a CROSS JOIN embeddings b
        WHERE a.vec_id <> b.vec_id
      ) WHERE rn = 4
    ) ORDER BY kdist DESC, vec_id LIMIT 20
    """,
)
def emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 embedding outliers by 4th-NN distance (LOF k-distance;
    operators/clustering.kdist_outliers).  The corpus-as-queries
    neighbor table comes from ONE FlatIndex.search_batch gemm scan
    (shares batch_topk_l2's cached index), not |corpus| dispatches."""
    from pgvecto_rs_spark.indexes import FlatIndex

    emb = _emb(spark, sf_dir)
    path = _tmp_index_dir("flatb", sf_dir)
    if not os.path.exists(os.path.join(path, "_vindex_meta.json")):
        FlatIndex.create(spark, emb, path, metric="l2")
    idx = _open_cached(FlatIndex, spark, path)
    qdf = emb.where(F.col("embedding").isNotNull()).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    nn = idx.search_batch(qdf, "qid", "qv", k=5)
    return CL.kdist_outliers(emb, k=4, top=20, nn=nn)


@register("emb_semdedup", _semdedup_sql(tau=0.4))
def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup: fixed-point k-means clusters, then each
    cluster prunes vectors with a lower-id cosine-neighbor (tau=0.4 —
    this synthetic corpus has no >=0.9 pairs; max pairwise sim is 0.51).  The
    pairwise check is cluster-blocked (equi-join), never an all-pairs
    cross join; arithmetic is exact int64 + IEEE sqrt, so both engines
    agree bit-for-bit (operators/clustering.py).

    k scales with the corpus (SemDeDup's own protocol: k ∝ N so the
    per-cluster quadratic block stays O(constant²) and total pair work
    is LINEAR in rows — the sf1 scale experiment measured 50× wall at
    10× data with fixed k=8 before this).  ~250 rows per cluster;
    k = 8 at the oracle (sf0.01) and bench (sf0.1) scales, so those
    results are unchanged and the static k=8 oracle SQL stays exact."""
    emb = _emb(spark, sf_dir)
    n = _parquet_rows(f"{sf_dir}/embeddings.parquet")
    k = max(8, n // 250)
    cents = _kmeans_cents(spark, sf_dir, k=k)
    # impl pinned: the per-cluster dgemm path (bit-identical to the
    # Catalyst fold, test_semdedup_numpy_matches_expr) — at k=8/dims=64
    # "auto" would pick the fold, which is ~3x slower at sf0.1
    return CL.semdedup(emb, cents, threshold=0.4, impl="numpy")


_BM25_TERMS = ["spark", "merge", "window", "scan"]

_BM25_TF_SQL = ",\n         ".join(
    f"len(list_filter(t, x -> x = '{t}')) AS tf{i}"
    for i, t in enumerate(_BM25_TERMS)
)
_BM25_DF_SQL = ",\n         ".join(
    f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
    for i in range(len(_BM25_TERMS))
)
# spelled to match operators/retrieval.py expression-for-expression so
# both engines walk the identical double-precision tree before the
# scaled-integer floor
_BM25_SCORE_SQL = "\n      + ".join(
    f"CAST(FLOOR((ln((CAST(n_docs AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5)"
    f" / (CAST(df{i} AS DOUBLE) + 0.5) + 1.0)"
    f" * ((CAST(tf{i} AS DOUBLE) * (1.2 + 1.0))"
    f" / (CAST(tf{i} AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75"
    f" * (CAST(dl AS DOUBLE) / (sum_dl / n_docs))))))"
    f" * 1000000.0 + 0.5) AS BIGINT)"
    for i in range(len(_BM25_TERMS))
)


_BM25_CTES = rf"""toks AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') END AS t
      FROM documents
    ), tf AS (
      SELECT doc_id, len(t) AS dl,
         {_BM25_TF_SQL}
      FROM toks
    ), stats AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
         {_BM25_DF_SQL}
      FROM tf
    ), bm25_scored AS (
      SELECT doc_id, dl,
        {_BM25_SCORE_SQL} AS score_u
      FROM tf CROSS JOIN stats
    )"""


# bm25 scores against _BM25_TERMS are shared by doc_bm25_topk and the
# hybrid retriever — materialize once per (file, session), same pattern
# as _embedded_chunks
_BM25_SCORED_CACHE = _Memo(4)


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _BM25_SCORED_CACHE.get(
        spark, f"{sf_dir}/documents.parquet",
        lambda: RT.bm25_score(_docs(spark, sf_dir), _BM25_TERMS).localCheckpoint(eager=True),
    )


@register(
    "doc_bm25_topk",
    f"""
    WITH {_BM25_CTES}
    SELECT doc_id, dl, score_u FROM bm25_scored
    ORDER BY score_u DESC, doc_id LIMIT 10
    """,
)
def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for a literal query — the lexical retriever
    beside the ANN operators (hybrid first-stage retrieval).  Per-term
    tf/dl are shuffle-free array projections; corpus stats collapse to
    one broadcast scalar row; per-term contributions are 1e-6-scaled
    integers so both engines rank identically (see
    operators/retrieval.py).  Pays the scoring cost itself (it IS the
    lexical-retrieval benchmark); only the hybrid fusion query reuses
    the materialized score stage."""
    return RT.bm25_topk(_docs(spark, sf_dir), _BM25_TERMS, k=10)


@register(
    "doc_hybrid_rrf",
    f"""
    WITH {_BM25_CTES},
    lexcand AS (
      SELECT doc_id, score_u FROM bm25_scored ORDER BY score_u DESC, doc_id LIMIT 100
    ),
    lex AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY score_u DESC, doc_id) AS BIGINT) AS rank_lex
      FROM lexcand
    ),
    semall AS (
      SELECT doc_id,
             CAST(FLOOR((1.0 - ({_SQL_DOC_DOT})
                         / SQRT(({_SQL_DOC_NORMSQ}) * {sum(x * x for x in _doc_embed_qv())!r}))
                        * 1000000.0 + 0.5) AS BIGINT) AS d_u
      FROM '{_DOC_EMBED_ORACLE_FILE}'
    ),
    semcand AS (SELECT doc_id, d_u FROM semall ORDER BY d_u, doc_id LIMIT 100),
    sem AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY d_u, doc_id) AS BIGINT) AS rank_sem
      FROM semcand
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.rank_lex, s.rank_sem,
             COALESCE(1.0 / (60 + l.rank_lex), 0.0)
               + COALESCE(1.0 / (60 + s.rank_sem), 0.0) AS rrf
      FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    )
    SELECT doc_id,
           COALESCE(rank_lex, CAST(0 AS BIGINT)) AS rank_lex,
           COALESCE(rank_sem, CAST(0 AS BIGINT)) AS rank_sem,
           FLOOR(rrf * 10000.0 + 0.5) / 10000.0 AS rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def doc_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 and embedding-cosine top-100 candidate
    lists fused by reciprocal-rank fusion (RRF, Cormack et al. 2009,
    k=60) — the standard lexical+semantic first-stage retriever.

    Scale shape: each retriever is already scale-safe (BM25: shuffle-
    free projections + TakeOrdered; cosine: one projection pass +
    TakeOrdered); ranking windows run over the 100-row candidate lists
    only, and the fuse is a 100x100 full-outer join on doc_id.
    Determinism: candidates and ranks are selected on integer keys
    (scaled BM25 score / 1e-6-quantized distance), and RRF scores are
    two exact int divisions + one add — identical doubles either
    engine."""
    _materialize_doc_embed_oracle(sf_dir)

    lexc = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score_u"), "doc_id")
        .limit(100)
    )
    lex = lexc.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score_u"), "doc_id"))
        .cast("long")
        .alias("rank_lex"),
    )

    qv = _doc_embed_qv()
    qcol = F.array(*[F.lit(x) for x in qv]).cast("array<float>")
    d = VD.cosine_distance(F.col("emb"), qcol, check=False)
    semc = (
        _doc_hash_embedded(spark, sf_dir)
        .select(
            "doc_id",
            F.floor(d * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("d_u"),
        )
        .orderBy("d_u", "doc_id")
        .limit(100)
    )
    sem = semc.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy("d_u", "doc_id"))
        .cast("long")
        .alias("rank_sem"),
    )

    fused = lex.join(sem, "doc_id", "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(60) + F.col("rank_lex")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rank_sem")), F.lit(0.0))
    return (
        fused.select("doc_id", "rank_lex", "rank_sem", rrf.alias("__rrf"))
        .orderBy(F.desc("__rrf"), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            # 0 = absent from that retriever's top-100: keeps the output
            # column NULL-free so pandas doesn't coerce BIGINT->float64
            # (the driver's value-hash distinguishes 78 from 78.0).
            F.coalesce(F.col("rank_lex"), F.lit(0).cast("long")).alias("rank_lex"),
            F.coalesce(F.col("rank_sem"), F.lit(0).cast("long")).alias("rank_sem"),
            _r4t(F.col("__rrf")).alias("rrf"),
        )
    )
