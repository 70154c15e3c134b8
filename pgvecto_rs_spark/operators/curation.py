"""Dataset-curation operators for LLM training pipelines.

Four operators a 100 TB text-curation run needs beyond dedup/quality
(all native Catalyst expressions — no Python in the hot path):

- ``decontaminate``: flag documents whose token n-grams overlap a
  held-out benchmark set (the standard train-set decontamination step).
  The benchmark side is tiny (benchmarks are MBs even when the corpus
  is TBs) → its distinct n-grams broadcast; the corpus side explodes
  n-grams and aggregates per doc_id, so the only shuffle is the final
  per-doc count at corpus-row cardinality.
- ``pii_redact``: regex-based PII scrubbing (emails / phone numbers /
  IPv4) with per-doc match counts — pure per-row expressions, zero
  shuffle, whole-stage codegen.
- ``train_split``: deterministic, seedable train/val/test assignment
  from a content- or id-hash — reproducible across runs and engines
  (md5, not engine-specific hash functions), no shuffle.
- ``top_terms``: corpus vocabulary frequencies (explode → groupBy with
  map-side partial aggregation → top-k). The classic word-count shape:
  one shuffle keyed by term; skewed head terms are exactly what
  partial aggregation absorbs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "bpe_encode_counts",
    "dsir_importance_weights",
    "bpe_train",
    "chunk_documents",
    "decontaminate",
    "dedup_passages",
    "global_rank",
    "global_rank_with_total",
    "global_shuffle",
    "quality_ntile",
    "pack_sequences",
    "pii_redact",
    "quota_sample",
    "repetition_signals",
    "temperature_quotas",
    "top_terms",
    "train_split",
    "unigram_lm_score",
]


def _norm_tokens(text: Column) -> Column:
    """Whitespace-normalized lowercase token array (empty for blank text)."""
    cleaned = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return F.when(F.length(cleaned) == 0, F.array().cast("array<string>")).otherwise(
        F.split(cleaned, " ")
    )


def ngram_strings(text: Column, n: int) -> Column:
    """Array of space-joined token n-grams of ``text`` (shorter docs → [])."""
    return token_ngram_strings(_norm_tokens(text), n)


def token_ngram_strings(toks: Column, n: int) -> Column:
    """N-grams over an ALREADY-TOKENIZED array column.

    Callers that need several n-gram sizes should project
    ``_norm_tokens`` into a named column once and build each size from
    that attribute: inlining the tokenizer expression into every size
    multiplies the Catalyst tree (the regex subtree appears ~3x per
    size), and analysis/codegen of the resulting tree — pure
    driver-side planning — was 90% of repetition_signals' wall time.
    """
    # positions 1 .. len-n+1 (1-based slice); sequence(1, 0) would error,
    # so clamp the upper bound and return [] for short docs
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_grams: bool = True,
) -> DataFrame:
    """Per-document benchmark-overlap counts: (id, n_hit, contaminated).

    ``n_hit`` = number of DISTINCT token n-grams of the document that
    also occur in the benchmark corpus; ``contaminated`` = n_hit > 0.
    Documents shorter than ``n`` tokens have n_hit = 0.

    Scale shape: the benchmark's distinct n-grams are broadcast (LEFT
    SEMI-joinable set, MBs at any realistic benchmark size); the corpus
    explodes its n-grams once and aggregates per id.  With
    ``hash_grams`` the join key is a 64-bit xxhash instead of the gram
    string — 8x smaller broadcast and shuffle rows at a ~1e-9 collision
    false-positive probability over 1e5 benchmark grams.

    Reference analogue: none (the reference is a vector engine); this is
    the standard decontamination operator of LLM data pipelines.
    """
    from .dedup import _spread

    # tokenize ONCE into a named column; building the grams from the
    # attribute keeps the tokenizer out of the transform lambda, which
    # interpreted HOFs would otherwise re-evaluate PER GRAM POSITION
    # (the r13 comparator lesson; measured 2.3x on the 3-gram explode)
    def _grams_of(toks: Column) -> Column:
        gram = token_ngram_strings(toks, n)
        if hash_grams:
            gram = F.transform(gram, lambda g: F.xxhash64(g))
        return gram

    # the n-gram build fans each row out ~token_count times; single-file
    # inputs arrive as 1 partition, so spread before the fan-out (no-op
    # on real multi-file inputs)
    doc_grams = (
        _spread(docs)
        .select(F.col(id_col), _norm_tokens(F.col(text_col)).alias("__toks"))
        .select(
            F.col(id_col),
            F.explode_outer(F.array_distinct(_grams_of(F.col("__toks")))).alias("__gram"),
        )
    )
    bench_grams = (
        _spread(benchmark)
        .select(_norm_tokens(F.col(text_col)).alias("__toks"))
        .select(F.explode(_grams_of(F.col("__toks"))).alias("__gram"))
        .distinct()
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "__gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            (F.coalesce(F.col("n_hit"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


# Patterns chosen to parse identically under Java regex (Spark) and RE2
# (DuckDB/Go) — no backreferences, no lookaround.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_redact(
    df: DataFrame, text_col: str = "text", patterns: dict[str, str] | None = None
) -> DataFrame:
    """Adds ``<name>_count`` per PII pattern and a ``redacted`` text
    column with every match replaced by ``[<NAME>]``.

    Pure per-row regexp expressions — whole-stage codegen, no shuffle,
    no Python.  Patterns are replaced in dict order on a single rolling
    column, so an email is counted once even if its host part would
    later match another pattern.
    """
    pats = patterns or PII_PATTERNS
    # each count is computed on the rolling text its replacement saw, so
    # overlapping patterns never double-count
    rolling = F.col(text_col)
    cols = [F.col(c) for c in df.columns]
    for name, pat in pats.items():
        cols.append(F.regexp_count(rolling, F.lit(pat)).cast("long").alias(f"{name}_count"))
        rolling = F.regexp_replace(rolling, pat, f"[{name.upper()}]")
    cols.append(rolling.alias("redacted"))
    return df.select(*cols)


def train_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, int] | None = None,
    seed: str = "",
) -> DataFrame:
    """Adds a deterministic ``split`` column ("train"/"val"/"test" by
    default) from md5(seed || id) — reproducible across engines, runs,
    and partitionings (md5 is bit-identical everywhere, unlike
    engine-native hash functions).  ``weights`` maps split name →
    integer share out of their sum (default 90/5/5).  No shuffle: the
    assignment is a per-row projection.
    """
    w = weights or {"train": 90, "val": 5, "test": 5}
    total = sum(w.values())
    # first 8 hex chars of md5 → uniform 32-bit integer → bucket
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))), 1, 8), 16, 10)
        .cast("long")
        % total
    )
    expr = None
    acc = 0
    for name, share in w.items():
        acc += share
        cond = bucket < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr)


def unigram_term_freq(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus vocabulary ``(term, __tf)`` — the trainable state of
    :func:`unigram_lm_score`, exposed so callers scoring the same corpus
    several times (or in several queries) can materialize the model ONCE
    and pass it back via ``freq=`` (the bpe/kmeans memoization pattern:
    the unigram LM is literally trained state, not a query result)."""
    return (
        _spread_tokens(df, text_col, id_col)
        .groupBy("term")
        .agg(F.count("*").alias("__tf"))
    )


def unigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = False,
    freq: DataFrame | None = None,
) -> DataFrame:
    """Corpus-unigram language-model quality score per document:
    (id, n_tokens, lm_score) with lm_score = mean over tokens of
    ln(corpus_freq(token) / corpus_total) — the CCNet-style LM filter
    shape with the corpus itself as the LM.  Higher (less negative) =
    more typical text; rare-garbage-token documents score low.

    Scale shape: one explode + term-keyed count (map-side combine), the
    frequency table joins back to the exploded tokens on term (both
    sides already term-partitioned from the agg), one final per-doc
    aggregation.  The corpus total rides along via a broadcast scalar.
    Determinism: per-token log-probs are scaled to integers
    (floor(ln·1e6 + 0.5)) before summation, so partial-aggregation
    order can never change the result (see queries._scaled_sum for the
    rationale); the mean divides the exact integer sum.

    (r13 note: a per-row distinct-(term, count) variant — shuffle pairs
    instead of token instances — was built and A/B'd at sf0.1: the
    Catalyst run-length expressions cost 3.6x the explode's codegen'd
    hash aggregation, swamping the byte savings.  Kept the explode.)

    ``materialize=True`` (r14) eagerly ``localCheckpoint``-s the
    vocabulary-sized ``freq`` relation.  Without it the plan re-derives
    freq AND the total from scratch — the r14 plan audit showed the
    corpus scanned and exploded THREE times (probe, freq build, total
    build; Catalyst does not reuse the aggregation subtree).  With it
    the explode runs once, and both the broadcast join and the total
    read the materialized table — the natural stage boundary a real
    corpus-LM run writes anyway.  Default stays False: a plain library
    call must be side-effect-free (r8 discipline); the query layer
    opts in.
    """
    toks = _spread_tokens(df, text_col, id_col)
    if freq is None:
        freq = unigram_term_freq(df, text_col, id_col)
        if materialize:
            freq = freq.localCheckpoint(eager=True)
    total = freq.agg(F.sum("__tf").alias("__total"))
    scored = (
        toks.join(freq, "term")
        .join(F.broadcast(total))
        .select(
            id_col,
            F.floor(
                F.log(F.col("__tf").cast("double") / F.col("__total").cast("double"))
                * F.lit(1000000.0)
                + F.lit(0.5)
            ).cast("long").alias("__lp_u"),
        )
        .groupBy(id_col)
        .agg(F.sum("__lp_u").alias("__s_u"), F.count("*").alias("n_tokens"))
    )
    return scored.select(
        id_col,
        "n_tokens",
        (
            F.col("__s_u").cast("double")
            / F.lit(1000000.0)
            / F.col("n_tokens").cast("double")
        ).alias("lm_score"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into overlapping token windows:
    (id, chunk_no, chunk_text, n_chunk_tokens) — the context-window
    chunking stage that feeds text into embedding + ANN indexing.

    Windows start every ``chunk_tokens - overlap`` tokens; the last
    window is shorter when the doc doesn't divide evenly, every token
    is covered, and docs shorter than one window yield one chunk.
    Empty/blank docs yield no rows.  Pure per-row expressions (the
    fan-out is ~n_tokens/stride rows per doc) — no shuffle, no Python;
    chunk counts use integer arithmetic only, so any engine reproduces
    the boundaries exactly.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    # tokenize ONCE into a named column: the window transform's slice
    # would otherwise re-run the tokenizer regex per CHUNK (interpreted
    # HOFs re-evaluate captured subtrees per element — r13 lesson)
    toked = df.select(
        F.col(id_col), _norm_tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    extra = F.greatest(n - F.lit(chunk_tokens), F.lit(0))
    # ceil(extra/step) + 1 in pure integer math
    n_chunks = (extra + F.lit(step - 1)).cast("long") / F.lit(step)
    n_chunks = F.floor(n_chunks).cast("int") + F.lit(1)
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda c: F.struct(
            c.cast("int").alias("chunk_no"),
            F.slice(toks, c * step + 1, chunk_tokens).alias("ct"),
        ),
    )
    out = (
        toked.where(n > 0)
        .select(F.col(id_col), F.explode(chunks).alias("__c"))
        .select(
            id_col,
            F.col("__c.chunk_no").alias("chunk_no"),
            F.concat_ws(" ", F.col("__c.ct")).alias("chunk_text"),
            F.size(F.col("__c.ct")).cast("long").alias("n_chunk_tokens"),
        )
    )
    return out


def global_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 42,
    num_buckets: int = 256,
) -> DataFrame:
    """Deterministic global training-order shuffle: adds ``shuffle_pos``
    (0-based), the row's position when the corpus is ordered by
    ``(md5(seed || id), id)`` — reproducible across engines, runs, and
    partitionings (md5, not an engine hash).

    Scale-correct global indexing: a bare ``row_number() OVER (ORDER
    BY ...)`` collapses to ONE partition in Spark.  Instead the md5
    key's 32-bit prefix is bucketed (monotone w.r.t. the hex string
    order, so bucket boundaries respect the global order), bucket
    counts → exclusive offsets are a ``num_buckets``-row driver fold
    (bounded, data-independent), and the final position is
    ``offset[bucket] + rank within bucket`` — one count agg + one
    bucket-keyed window shuffle, never a single-partition sort.  md5 is
    uniform, so buckets are balanced by construction (no sampling, no
    RangePartitioner nondeterminism).
    """
    key = F.md5(F.concat(F.lit(str(seed)), F.col(id_col).cast("string")))
    # first 8 hex chars as int: monotone prefix of the full key order
    bucket = (
        F.conv(F.substring(F.col("__gs_key"), 1, 8), 16, 10).cast("long")
        * num_buckets
        / F.lit(4294967296)
    ).cast("int")
    keyed = df.withColumn("__gs_key", key).withColumn("__gs_b", bucket)
    counts = {
        r["__gs_b"]: r["n"]
        for r in keyed.groupBy("__gs_b").agg(F.count("*").alias("n")).collect()
    }
    running, offsets = 0, {}
    for b in range(num_buckets):
        offsets[b] = running
        running += counts.get(b, 0)
    from pyspark.sql import Window

    from pgvecto_rs_spark.indexes.base import local_frame

    off_df = F.broadcast(
        local_frame(
            df.sparkSession,
            [(b, offsets[b]) for b in sorted(offsets)],
            "__gs_b int, __gs_off long",
        )
    )
    w = Window.partitionBy("__gs_b").orderBy("__gs_key", id_col)
    out = (
        keyed.join(off_df, "__gs_b")
        .withColumn(
            "shuffle_pos",
            (F.col("__gs_off") + F.row_number().over(w) - 1).cast("long"),
        )
        .drop("__gs_key", "__gs_b", "__gs_off")
    )
    return out


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rank",
    num_partitions: int = 64,
) -> DataFrame:
    out, _ = global_rank_with_total(df, order_cols, rank_col, num_partitions)
    return out


def global_rank_with_total(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rank",
    num_partitions: int = 64,
) -> tuple[DataFrame, int]:
    """0-based dense global position of every row under the total order
    ``order_cols`` — the scale-correct ``row_number() OVER (ORDER BY
    ...)``: a bare global window collapses to ONE partition in Spark.

    Two-pass distributed rank: range-repartition + in-partition sort,
    then partition row-counts → exclusive offsets (a
    ``num_partitions``-row driver fold), then a second pass adds
    ``offset[pid] + local position``.  RangePartitioner boundary
    sampling is NOT a determinism risk: whatever the boundaries, the
    in-partition sort plus offsets reproduce the same total order, so
    the rank of each row is exact (ties must be broken by including a
    unique id in ``order_cols``).  Lineage is truncated
    (localCheckpoint) so partition ids are stable between the count
    pass and the indexing pass.

    The INPUT is checkpointed first: RangePartitioner's boundary
    sampling is a separate pass over the upstream, so an expensive
    lineage (a scoring pipeline feeding the rank) would otherwise be
    evaluated twice — once for sampling, once for the shuffle.
    """
    from pyspark import TaskContext

    df = df.localCheckpoint(eager=True)
    parted = (
        df.repartitionByRange(num_partitions, *order_cols)
        .sortWithinPartitions(*order_cols)
        .localCheckpoint(eager=True)
    )
    counts = {
        r["__pid"]: r["n"]
        for r in parted.groupBy(
            F.spark_partition_id().alias("__pid")
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    running, offsets = 0, {}
    for pid in range(max(counts, default=-1) + 1):
        offsets[pid] = running
        running += counts.get(pid, 0)

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        list(parted.schema.fields) + [StructField(rank_col, LongType())]
    )

    def add_rank(it):
        import pandas as pd  # noqa: F401 — pandas batches in/out

        pid = TaskContext.get().partitionId()
        base = offsets.get(pid, 0)
        seen = 0
        for pdf in it:
            pdf = pdf.copy()
            pdf[rank_col] = range(base + seen, base + seen + len(pdf))
            seen += len(pdf)
            yield pdf

    return parted.mapInPandas(add_rank, schema), running


def quality_ntile(
    df: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    n: int = 4,
    bucket_col: str = "bucket",
) -> DataFrame:
    """SQL-NTILE quality bucketing over a score column — the curriculum
    / quality-tier assignment step (e.g. CCNet's perplexity head/
    middle/tail thirds): adds ``bucket`` in 1..n, sizes matching
    ``NTILE(n) OVER (ORDER BY score, id)`` exactly (first ``total % n``
    buckets get the extra row).

    Built on :func:`global_rank` — distributed, never a one-partition
    window.  Ties broken by ``id_col``, so the assignment is
    deterministic and engine-reproducible.
    """
    ranked, total = global_rank_with_total(
        df, [score_col, id_col], rank_col="__qr", num_partitions=16
    )
    q, r = divmod(total, n)
    rank = F.col("__qr")
    if q == 0:
        bucket = rank + 1
    else:
        bucket = (
            F.when(rank < r * (q + 1), F.floor(rank / (q + 1)))
            .otherwise(r + F.floor((rank - r * (q + 1)) / q))
            + 1
        )
    return ranked.withColumn(bucket_col, bucket.cast("int")).drop("__qr")


def dedup_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_tokens: int = 10,
) -> DataFrame:
    """Corpus-level duplicate-passage removal (CCNet / ExactSubstr-lite):
    split every document into non-overlapping ``window_tokens``-token
    passages, keep only the FIRST corpus-wide occurrence of each
    distinct passage (ordered by ``(id, window position)``), and
    reassemble each document from its surviving passages.

    Returns (id, n_windows, n_dup_windows, dedup_text).  A document
    whose every passage already appeared earlier comes back with
    ``dedup_text = ''`` — the standard boilerplate/duplicated-span
    scrub applied before training.

    Shape (skew-proof, r8): per-row window fan-out (no shuffle), then a
    ``groupBy(win_text).agg(min(struct(id, win_idx)), count)`` — the
    first-occurrence decision as a MAP-SIDE-COMBINABLE aggregate, so a
    boilerplate passage repeated across millions of docs collapses to
    one partial row per input partition instead of landing an entire
    hot-key partition on a single window task (the r7 plan used
    ``row_number() OVER (PARTITION BY win_text ...)``, the repo's one
    skew-sensitive window; a window cannot be AQE-skew-split, an agg
    never needs to be).  Winners (one row per DISTINCT passage) then
    regroup by the winning doc id for reassembly, and a doc-keyed
    unique-key join attaches per-doc window counts.  No join is ever
    keyed by passage text.  At 100 TB you'd key the agg shuffle by
    ``xxhash64(passage)`` and keep the string only in the row payload;
    the decision logic is unchanged.
    """
    w = window_tokens
    # tokenize ONCE into a named column (the window transform's slice
    # would otherwise re-run the tokenizer per WINDOW — r13 HOF lesson)
    toked = df.select(
        F.col(id_col), _norm_tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    n_wins = F.floor((n + F.lit(w - 1)).cast("long") / F.lit(w)).cast("int")
    wins = F.transform(
        F.sequence(F.lit(0), n_wins - 1),
        lambda i: F.struct(
            i.cast("int").alias("win_idx"),
            F.concat_ws(" ", F.slice(toks, i * w + 1, w)).alias("win_text"),
        ),
    )
    exploded = (
        toked.where(n > 0)
        .select(F.col(id_col), F.explode(wins).alias("__w"))
        .select(id_col, "__w.win_idx", "__w.win_text")
    )
    # min(struct(id, win_idx)) == the lexicographically-first occurrence,
    # identical to row_number() OVER (PARTITION BY win_text ORDER BY id,
    # win_idx) == 1 — but partial-aggregatable, so the hot key is absorbed
    # map-side before the one passage-keyed shuffle.
    winners = exploded.groupBy("win_text").agg(
        F.min(
            F.struct(
                F.col(id_col).alias("id"), F.col("win_idx").alias("win_idx")
            )
        ).alias("__first")
    )
    kept = winners.groupBy(F.col("__first.id").alias(id_col)).agg(
        F.count("*").cast("long").alias("__n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("__first.win_idx").alias("win_idx"),
                            F.col("win_text").alias("win_text"),
                        )
                    )
                ),
                lambda x: x["win_text"],
            ),
            " ",
        ).alias("dedup_text"),
    )
    docs = toked.where(n > 0).select(
        F.col(id_col), n_wins.cast("long").alias("n_windows")
    )
    return docs.join(kept, on=id_col, how="left").select(
        id_col,
        "n_windows",
        (F.col("n_windows") - F.coalesce(F.col("__n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_dup_windows"),
        F.coalesce(F.col("dedup_text"), F.lit("")).alias("dedup_text"),
    )


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 256,
) -> DataFrame:
    """Concat-and-chunk sequence packing accounting:
    (id, bin_id, n_tokens_in_bin) — which fixed-size training sequences
    each document's tokens land in when the corpus is concatenated in
    ``id`` order and cut every ``budget`` tokens (the packing most LLM
    data loaders use; documents may straddle a boundary, yielding one
    row per (doc, bin) they touch).

    All integer window arithmetic over an exclusive cumulative token
    sum — deterministic, engine-reproducible, and expressible as one
    window + a bounded per-row fan-out (a doc touches
    ceil(len/budget)+1 bins at most).  The cumsum window runs over a
    single global ordering; at 100 TB you'd run it per shard/split key
    (pass a pre-partitioned df) — the arithmetic is unchanged.
    """
    from pyspark.sql import Window

    n = F.size(_norm_tokens(F.col(text_col))).cast("long")
    w = Window.orderBy(id_col).rowsBetween(Window.unboundedPreceding, -1)
    toks = df.select(F.col(id_col), n.alias("__n")).where(F.col("__n") > 0)
    offs = toks.withColumn("__off", F.coalesce(F.sum("__n").over(w), F.lit(0)))
    first_bin = (F.col("__off") / budget).cast("long")
    last_bin = ((F.col("__off") + F.col("__n") - 1) / budget).cast("long")
    bins = F.sequence(first_bin, last_bin)
    out = offs.select(
        id_col, "__n", "__off", F.explode(bins).alias("bin_id")
    )
    in_bin = F.least(
        (F.col("bin_id") + 1) * budget, F.col("__off") + F.col("__n")
    ) - F.greatest(F.col("bin_id") * budget, F.col("__off"))
    return out.select(
        id_col, "bin_id", in_bin.cast("long").alias("n_tokens_in_bin")
    )


def _spread_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, term) exploded tokens, partition-spread before the fan-out."""
    from .dedup import _spread

    return _spread(df).select(
        F.col(id_col), F.explode(_norm_tokens(F.col(text_col))).alias("term")
    )


def top_terms(
    df: DataFrame, text_col: str = "text", k: int = 20, min_len: int = 1
) -> DataFrame:
    """Top-k corpus terms by frequency: (term, n) with deterministic
    (-n, term) ordering.  explode → groupBy(term) with map-side partial
    aggregation (Catalyst's hash aggregate absorbs head-term skew
    before the single term-keyed shuffle) → TakeOrdered(k).
    """
    return (
        df.select(F.explode(_norm_tokens(F.col(text_col))).alias("term"))
        .where(F.length("term") >= min_len)
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "term")
        .limit(k)
    )


def dup_ngram_fraction(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_grams: bool = True,
    materialize: bool = False,
) -> DataFrame:
    """Cross-document duplicate n-gram fraction per doc:
    (id, n_grams, n_dup, dup_frac).

    ``materialize=False`` (default, r8 — a plain library call must be
    side-effect-free) keeps the call lazy; the n-gram explode then runs
    ~3x at execution (AQE reuses only one of the three identical
    subtrees — measured).  ``materialize=True`` eagerly
    ``localCheckpoint``-s the (id, gram, count) relation — a Spark job
    runs at CALL time and the blocks stay pinned on executors until the
    returned DataFrame is GC-ed on the driver; the query layer opts in
    (queries/documents.py) because it executes immediately.

    An n-gram INSTANCE counts as duplicated when its gram occurs in at
    least 2 distinct documents (document frequency >= 2) — the
    RefinedWeb/Gopher-style corpus-level repetition signal, as opposed
    to ``repetition_signals`` which is intra-document.  Docs shorter
    than ``n`` tokens have n_grams = 0 and dup_frac = 0.0.

    Scale shape: one explode, then every step aggregates or joins at
    its natural key — (id, gram) multiplicity, gram document-frequency
    (map-side partial agg absorbs head grams), a gram-keyed LEFT SEMI
    back onto the (id, gram) pairs, and two id-keyed rollups.  With
    ``hash_grams`` all shuffles carry a 64-bit xxhash instead of the
    gram string.  No driver-side state at any corpus size.

    Reference analogue: none (the reference is a vector engine); this
    is a standard LLM-corpus curation signal.
    """
    from .dedup import _spread

    # tokenize ONCE into a named column (see decontaminate: interpreted
    # HOFs re-evaluate captured subtrees per element — inlining the
    # tokenizer in the gram transform re-tokenized the document once per
    # gram position; measured 2.3x on this explode at sf0.1)
    gram = token_ngram_strings(F.col("__toks"), n)
    if hash_grams:
        gram = F.transform(gram, lambda g: F.xxhash64(g))
    inst = (
        _spread(docs)
        .select(F.col(id_col), _norm_tokens(F.col(text_col)).alias("__toks"))
        .select(F.col(id_col), F.explode(gram).alias("__gram"))
    )
    # three consumers branch off pair (gram document-frequency, per-doc
    # totals, per-doc dup sums); AQE's ReuseExchange only deduplicated
    # one of the three identical explode+agg subtrees (measured), so the
    # n-gram explode ran ~3x.  Materialize once: localCheckpoint keeps
    # the (id, gram-hash, count) relation — token-order cardinality, the
    # same order as doc_dedup_keep's checkpointed candidate set — on
    # executor block storage, released by GC like every other
    # checkpointed intermediate.
    pair = inst.groupBy(id_col, "__gram").agg(F.count("*").alias("__c"))
    if materialize:
        pair = pair.localCheckpoint(eager=True)
    dup_grams = (
        pair.groupBy("__gram")
        .agg(F.count("*").alias("__df"))
        .where(F.col("__df") >= 2)
        .select("__gram")
    )
    tot = pair.groupBy(id_col).agg(F.sum("__c").alias("n_grams"))
    dups = (
        pair.join(dup_grams, "__gram", "left_semi")
        .groupBy(id_col)
        .agg(F.sum("__c").alias("n_dup"))
    )
    ng = F.coalesce(F.col("n_grams"), F.lit(0))
    nd = F.coalesce(F.col("n_dup"), F.lit(0))
    return (
        docs.select(id_col)
        .join(tot, id_col, "left")
        .join(dups, id_col, "left")
        .select(
            F.col(id_col),
            ng.alias("n_grams"),
            nd.alias("n_dup"),
            F.when(ng > 0, nd / F.col("n_grams"))
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple[int, ...] = (2, 3),
    dup_ns: tuple[int, ...] = (5,),
) -> DataFrame:
    """Gopher-style repetition quality signals per document.

    The Gopher data-curation rules (Rae et al. 2021, table A1) filter
    documents by how internally repetitive they are.  This computes the
    word-n-gram family of those signals over the whitespace-normalized
    lowercase text:

    - ``top_word_frac``: occurrences of the most frequent token /
      total tokens (ties -> lexicographically smallest token).
    - ``top{n}_char_frac`` for n in ``top_ns``: characters covered by
      all occurrences of the single most frequent word n-gram /
      normalized characters (occurrences may overlap, so the ratio can
      exceed 1 on degenerate inputs — same as Gopher's definition).
    - ``dup{n}_char_frac`` for n in ``dup_ns``: characters covered by
      all occurrences of *duplicated* n-grams (count >= 2) /
      normalized characters.

    Scale shape (r13): every signal depends only on the document's OWN
    gram histogram, so the whole operator is a per-row map — ZERO
    shuffles, no explode, no join (the previous formulation exploded
    ~sum(ns)x the corpus bytes through a (doc, gram) exchange and
    joined the reduction back on doc_id).  The per-doc histograms run
    as one Arrow-batch UDF (C-implemented Counter per gram size, guide
    §4.2 — a measured 2.3x over the equivalent Catalyst sorted fold,
    whose interpreted per-element struct accumulation dominated; both
    beat the old explode plan, which the fold A/B showed was spending
    its time in the two exchanges).  Ties break to the
    lexicographically smallest gram — Python code-point string order
    equals Spark UTF8 binary order on UTF-8.  The plan is a single
    scan stage at any corpus size.

    Reference analogue: none (the reference is a vector engine); this
    is a standard LLM-pipeline quality filter.
    """
    import re
    from collections import Counter

    from .dedup import _spread

    ns_top = tuple(top_ns)
    ns_dup = tuple(dup_ns)
    fields = ["n_tokens:bigint", "n_chars:bigint", "top_word_frac:double"]
    fields += [f"top{n}_char_frac:double" for n in ns_top]
    fields += [f"dup{n}_char_frac:double" for n in ns_dup]
    names = [f.split(":")[0] for f in fields]
    schema = "struct<" + ",".join(fields) + ">"
    ws = re.compile(r"\s+")

    @F.pandas_udf(schema)
    def _signals(texts: pd.Series) -> pd.DataFrame:
        cols: dict[str, list] = {k: [] for k in names}
        for txt in texts:
            if txt is None:
                # mirror the expression semantics: NULL text -> NULL
                # counts, 0.0 fractions
                cols["n_tokens"].append(None)
                cols["n_chars"].append(None)
                for k in names[2:]:
                    cols[k].append(0.0)
                continue
            norm = ws.sub(" ", txt.strip().lower())
            toks = norm.split(" ") if norm else []
            nt, nc = len(toks), len(norm)
            cols["n_tokens"].append(nt)
            cols["n_chars"].append(nc)

            def _hist(n: int) -> Counter:
                return Counter(
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                )

            def _top(n: int) -> tuple[int, str | None]:
                if len(toks) < n:
                    return 0, None
                c = _hist(n)
                mx = max(c.values())
                return mx, min(g for g, v in c.items() if v == mx)

            c1, _g1 = _top(1)
            cols["top_word_frac"].append(c1 / nt if (c1 > 0 and nt > 0) else 0.0)
            for n in ns_top:
                c, g = _top(n)
                cols[f"top{n}_char_frac"].append(
                    (c * len(g)) / nc if (c > 0 and nc > 0) else 0.0
                )
            for n in ns_dup:
                if len(toks) >= n and nc > 0:
                    dup = sum(v * len(g) for g, v in _hist(n).items() if v >= 2)
                    cols[f"dup{n}_char_frac"].append(dup / nc)
                else:
                    cols[f"dup{n}_char_frac"].append(0.0)
        return pd.DataFrame(cols)

    out = _spread(df).select(F.col(id_col), _signals(text_col).alias("__r"))
    return out.select(id_col, *[F.col(f"__r.{k}").alias(k) for k in names])

def _bpe_compatible(
    cand: tuple[str, str], accepted: list[tuple[str, str]]
) -> bool:
    """A candidate pair (c, d) may join a batch of already-accepted
    merges iff, for every accepted (a, b) with product p = a+b, neither
    c nor d is in {a, b, p}.  Disjoint symbols mean applying (a, b)
    destroys no (c, d) occurrence (only pairs containing a or b lose
    instances), and c, d != p means it creates none (new adjacencies
    all involve p) — so the candidate's pre-batch count is EXACT after
    the earlier merges apply."""
    c, d = cand
    for a, b in accepted:
        p = a + b
        if c in (a, b, p) or d in (a, b, p):
            return False
    return True


# Introspection for tests: driver round-trips of the last bpe_train call.
LAST_BPE_TRAIN_STATS: dict = {}


def bpe_train(
    df: DataFrame,
    rounds: int = 3,
    text_col: str = "text",
    batch: int = 1,
    scan: int = 64,
) -> list[tuple[int, str, str, int]]:
    """Distributed BPE tokenizer training: learn ``rounds`` merge rules
    (the byte-pair-encoding vocabulary induction step of an LLM data
    pipeline).  Returns [(round, left, right, pair_count), ...].

    Algorithm (Sennrich et al. 2016), distributed the standard way:
    train on the DISTINCT-WORD + frequency table, not the corpus — the
    vocabulary is orders smaller than the text.  Each driver round:

    1. adjacent-symbol pair counts weighted by word frequency — one
       pair-keyed aggregation with map-side combine over vocab rows;
    2. the top ``scan`` pairs (count DESC, pair ASC tie-break) —
       ONE ``scan``-row collect to the driver;
    3. accept up to ``batch`` candidates scanning that list in order,
       keeping a candidate iff it is compatible with every merge
       already accepted this round (see ``_bpe_compatible`` — the
       compatibility rule guarantees the accepted candidates' counts
       are exact even after the earlier in-batch merges apply);
    4. accepted merges applied to every word's symbol sequence as
       chained native ``aggregate`` folds (greedy left-to-right
       non-overlapping, the reference BPE semantics) — pure
       projections, no shuffle.

    ``batch=1`` (default) is classic sequential BPE — each rule is the
    global argmax of the live pair counts.  ``batch=K`` cuts driver
    round-trips (and Spark job count) ~K-fold: a production 32k-merge
    vocabulary at K=256 is ~128 driver rounds instead of 32k.  The
    learned schedule may differ from sequential BPE only where a
    skipped conflicting pair would have out-counted a later accepted
    one — the schedule is deterministic either way, and the
    ``doc_bpe_batched`` driver query replays it rule-for-rule in pure
    DuckDB SQL.  ``batch`` is capped at 256 (the K=256 operating point
    above); the folds never chain more than 4 deep in one projection —
    an eager localCheckpoint truncates lineage every 4 folds, so the
    per-projection expression tree is bounded at ~4 folds regardless
    of K (the pre-r8 cap of 16 predated chunked truncation).  A round
    that finds fewer than ``batch`` compatible candidates in the top
    ``scan`` accepts what it can and runs another driver round, so the
    returned schedule always has exactly ``rounds`` rules (corpus
    permitting).

    Driver state is ``scan`` rows per round; everything heavy stays on
    executors.  Integer pair counts make every round's selection
    engine- and partitioning-exact.  ``LAST_BPE_TRAIN_STATS`` records
    {"round_trips", "rules"} of the latest call for tests/telemetry.
    """
    if not 1 <= batch <= 256:
        raise ValueError("bpe_train: batch must be in [1, 256]")
    scan = max(scan, batch)  # a round must be able to see `batch` candidates
    words = (
        df.select(F.explode(_norm_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    seqs = words.select(
        "word",
        "freq",
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.col("word").substr(i, F.lit(1)),
        ).alias("seq"),
    ).cache()

    merges: list[tuple[int, str, str, int]] = []
    round_trips = 0
    while len(merges) < rounds:
        pair = F.transform(
            F.sequence(F.lit(0), F.size("seq") - 2),
            lambda i: F.struct(
                F.get("seq", i).alias("a"), F.get("seq", i + 1).alias("b")
            ),
        )
        counts = (
            seqs.where(F.size("seq") >= 2)
            .select("freq", F.explode(pair).alias("pr"))
            .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
            .agg(F.sum("freq").alias("c"))
        )
        cap = min(batch, rounds - len(merges))
        top = (
            counts.orderBy(F.desc("c"), "a", "b")
            .limit(1 if batch == 1 else scan)
            .collect()
        )
        round_trips += 1
        if not top:
            break
        accepted: list[tuple[str, str]] = []
        for row in top:
            if len(accepted) == cap:
                break
            a, b, c = row["a"], row["b"], int(row["c"])
            if not _bpe_compatible((a, b), accepted):
                continue
            merges.append((len(merges), a, b, c))
            accepted.append((a, b))
        nxt = seqs
        for i, (a, b) in enumerate(accepted):
            nxt = nxt.select(
                "word", "freq", _bpe_merge_fold(F.col("seq"), a, b).alias("seq")
            )
            # chained folds collapse into one ~4^k-node projection;
            # truncate lineage every 4 folds (no rows reach the driver)
            if (i + 1) % 4 == 0 and i + 1 < len(accepted):
                nxt = nxt.localCheckpoint(eager=True)
        nxt = nxt.cache()
        seqs.unpersist()
        seqs = nxt
    seqs.unpersist()
    LAST_BPE_TRAIN_STATS.clear()
    LAST_BPE_TRAIN_STATS.update({"round_trips": round_trips, "rules": len(merges)})
    return merges


def _bpe_merge_fold(seq: Column, a: str, b: str) -> Column:
    """Greedy left-to-right non-overlapping (a,b)→ab merge of a symbol
    array, as a native ``aggregate`` fold (shared by ``bpe_train`` and
    ``bpe_encode_counts`` so training and encoding provably apply the
    same merge semantics)."""
    ab = a + b
    merged = F.aggregate(
        F.slice(seq, 2, F.size(seq) - 1),
        F.slice(seq, 1, 1),
        lambda acc, s: F.when(
            (F.element_at(acc, -1) == F.lit(a)) & (s == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(ab))),
        ).otherwise(F.concat(acc, F.array(s))),
    )
    return F.when(F.size(seq) < 2, seq).otherwise(merged)


def bpe_encode_counts(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply learned BPE merge rules to the corpus — the tokenizer
    APPLICATION step that follows ``bpe_train``: per-document raw-word
    and BPE-token counts, the numbers a training pipeline needs for
    sequence budgeting and per-source token accounting.

    Returns (id_col, n_words, n_bpe_tokens); documents with no tokens
    (blank text) carry no words and drop out, mirroring the oracle.

    Scale shape: merges apply to the DISTINCT-WORD table (orders
    smaller than the corpus), one shuffle-free fold projection per
    rule in learned order; the word → subtoken-count map then joins
    back onto the (doc, word, count) aggregate — a word-keyed
    equi-join, never a re-tokenization of the raw text stream.  At
    corpus scale the vocabulary table is millions of rows against
    trillions of tokens, so the expensive part (per-symbol folding)
    touches only the small side.
    """
    toks = df.select(
        F.col(id_col), F.explode(_norm_tokens(F.col(text_col))).alias("word")
    )
    doc_words = toks.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("cnt"))
    seqs = doc_words.select("word").distinct().select(
        "word",
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.col("word").substr(i, F.lit(1)),
        ).alias("seq"),
    )
    for i, (_r, a, b, _c) in enumerate(merges):
        seqs = seqs.select(
            "word", _bpe_merge_fold(F.col("seq"), a, b).alias("seq")
        )
        # chained folds collapse into one ~4^k-node projection; truncate
        # lineage every 4 folds — the SAME cadence bpe_train uses — so a
        # 6-rule encode pays 1 checkpoint job instead of 6 (r14; the old
        # per-rule checkpoint was 6 driver round-trips of ~0ms task work)
        if (i + 1) % 4 == 0 and i + 1 < len(merges):
            seqs = seqs.localCheckpoint(eager=True)
    sub = seqs.select("word", F.size("seq").cast("long").alias("n_sub"))
    out = (
        doc_words.join(sub, "word")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sub")).alias("n_bpe_tokens"),
        )
    )
    return out


def temperature_quotas(
    counts: dict[str, int], total: int, temperature: float = 0.7
) -> dict[str, int]:
    """Per-source sampling quotas for temperature-based data mixing
    (the multilingual/multi-source rebalancing rule: p_s ∝ n_s^τ, τ<1
    upsamples small sources relative to their share).  Pure driver-side
    arithmetic over the per-source COUNT table — a handful of rows —
    returning integer quotas capped at each source's size.  Largest-
    remainder rounding spends exactly ``total`` when feasible and is
    deterministic (remainder DESC, source name ASC tie-break).
    """
    if total <= 0 or not counts:
        return {s: 0 for s in counts}
    names = sorted(counts)
    w = {s: float(counts[s]) ** temperature for s in names}
    sw = sum(w[s] for s in names)
    if sw == 0:  # every source empty: nothing to hand out
        return {s: 0 for s in counts}
    raw = {s: total * w[s] / sw for s in names}
    q = {s: min(int(raw[s]), counts[s]) for s in names}
    # largest-remainder: hand leftover slots to the sources that lost
    # the most to flooring (skipping sources already at capacity)
    leftover = total - sum(q.values())
    order = sorted(names, key=lambda s: (-(raw[s] - int(raw[s])), s))
    while leftover > 0:
        progressed = False
        for s in order:
            if leftover == 0:
                break
            if q[s] < counts[s]:
                q[s] += 1
                leftover -= 1
                progressed = True
        if not progressed:  # every source exhausted: total > corpus size
            break
    return q


def quota_sample(
    df: DataFrame,
    quotas: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-source quota sampling — the apply step of data
    mixing: keep the ``quotas[s]`` documents of source ``s`` with the
    smallest md5(id) digests.  md5 ordering is a reproducible uniform
    shuffle that every engine agrees on bit-for-bit (engine-native
    hashes are not portable), so the SAME sample comes back across
    engines, runs, and partitionings.

    Scale shape: one shuffle on source_col for the per-source
    row_number; sources far larger than their quota can skew a
    partition, which AQE's skew-split handles for the sort (rank is
    per-source, not global).  Quotas ride in as a broadcast map lookup
    — no join against a quota table.
    """
    from pyspark.sql import Window

    pairs: list[Column] = []
    for s in sorted(quotas):
        pairs += [F.lit(s), F.lit(int(quotas[s]))]
    qmap = F.create_map(*pairs) if pairs else F.create_map()
    w = Window.partitionBy(source_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= F.coalesce(qmap[F.col(source_col)], F.lit(0)))
        .drop("__rk")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): score each raw document
# by the log-likelihood ratio of a target-domain hashed-n-gram unigram
# model vs the raw-pool model.  Feature = character trigram hashed into
# ``n_buckets`` via a polynomial rolling hash computed with plain
# arithmetic (NOT an engine hash builtin) so any SQL engine reproduces
# the exact bucket ids; per-bucket log-ratios quantize to 1e-6-scaled
# integers so the per-doc sum is associative and engine-exact.

DSIR_BUCKETS = 1024
DSIR_SCALE = 1_000_000.0


def _dsir_trigram_buckets(text: Column) -> Column:
    """Array of bucket ids, one per character trigram of lower(text):
    (c1*31^2 + c2*31 + c3) mod DSIR_BUCKETS over the codepoints.

    The codepoint array comes from ONE split+ascii pass; indexing it is
    O(1) per trigram, where per-position ``substring`` would seek O(i)
    into the UTF-8 string (quadratic per doc)."""
    t = F.lower(text)
    n = F.length(t)
    codes = F.transform(F.split(t, ""), lambda c: F.ascii(c))
    # zip_with over SHIFTED SLICES, not element_at(codes, i) inside a
    # transform lambda: higher-order lambdas evaluate interpreted (no
    # common-subexpression elimination), so an element_at formulation
    # re-runs the whole split+ascii subtree per ELEMENT — O(n^2) per
    # document.  Here ``codes`` evaluates a bounded number of times per
    # ROW and each zip_with pass is linear.
    c12 = F.zip_with(
        F.slice(codes, 1, n - F.lit(2)),
        F.slice(codes, 2, n - F.lit(2)),
        lambda a, bb: a * F.lit(961) + bb * F.lit(31),
    )
    tri = F.zip_with(
        c12, F.slice(codes, 3, n - F.lit(2)), lambda ab, c: (ab + c) % F.lit(DSIR_BUCKETS)
    )
    return F.when(n < 3, F.array().cast("array<int>")).otherwise(tri)


def dsir_importance_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
    materialize: bool = False,
) -> DataFrame:
    """(id, n_feat, weight_u) per raw document: weight_u = Σ_b
    n_doc[b] · floor(1e6·ln(p_target[b]/p_raw[b]) + 0.5), with
    add-one-smoothed bucket unigram models over the hashed trigrams.

    Scale shape: the trigram explode runs ONCE (raw ∪ target with a
    side tag), reduced immediately to a materialized (doc, side,
    bucket, count) relation — doc x bucket cardinality — from which the
    per-bucket model counts, the model totals, and the per-doc features
    all derive (they shuffle on different keys, so without the
    materialization no exchange reuse is possible and the explode would
    run 3x).  The 2·n_buckets log-ratio table broadcast-joins the
    features; no shuffle carries more than (doc, bucket) pairs.  Engine-exact: bucket ids are integer arithmetic, and the
    only transcendental (ln of a ratio of exact integers) quantizes to
    a scaled int BEFORE any multi-row sum.

    ``materialize=False`` (default, r8 — a plain library call must be
    side-effect-free) keeps the call lazy; the trigram explode then
    runs 3x when executed.  ``materialize=True`` eagerly
    ``localCheckpoint``-s the (doc, side, bucket, count) relation — a
    Spark job runs at CALL time; blocks stay pinned on executors until
    the returned DataFrame is GC-ed on the driver; the query layer opts
    in because it executes immediately."""
    from .dedup import _spread

    buckets = _dsir_trigram_buckets(F.col(text_col))
    both = raw.select(
        F.col(id_col), F.lit(False).alias("__tgt"), F.col(text_col)
    ).unionByName(
        target.select(F.col(id_col), F.lit(True).alias("__tgt"), F.col(text_col))
    )
    # single-file inputs arrive as 1-2 partitions; the trigram fan-out
    # multiplies rows ~n_chars-fold, so spread BEFORE the explode
    tri = _spread(both).select(F.col(id_col), "__tgt", F.explode(buckets).alias("b"))
    # one pass over the trigram stream: reduce to (doc, side, bucket, n)
    # — doc x bucket cardinality, far below the token stream — and
    # materialize it, since the model counts (groupBy b) and the doc
    # features (groupBy id, b) shuffle on DIFFERENT keys, so no exchange
    # reuse is possible and the explode would otherwise run 3x (model,
    # totals, features)
    pairs = tri.groupBy(id_col, "__tgt", "b").agg(F.count(F.lit(1)).alias("__n"))
    if materialize:
        pairs = pairs.localCheckpoint(eager=True)
    stats = pairs.groupBy("b").agg(
        F.sum(F.when(F.col("__tgt"), F.col("__n")).otherwise(0)).alias("c_t"),
        F.sum(F.when(~F.col("__tgt"), F.col("__n")).otherwise(0)).alias("c_r"),
    )
    tots = stats.agg(
        F.sum("c_t").alias("tt"), F.sum("c_r").alias("tr")
    )
    all_b = raw.sparkSession.range(n_buckets).select(F.col("id").cast("int").alias("b"))
    lr = (
        all_b.join(F.broadcast(stats), "b", "left")
        .join(F.broadcast(tots))
        .select(
            "b",
            F.floor(
                F.log(
                    ((F.coalesce(F.col("c_t"), F.lit(0)) + F.lit(1)).cast("double")
                     / (F.col("tt") + F.lit(n_buckets)).cast("double"))
                    / ((F.coalesce(F.col("c_r"), F.lit(0)) + F.lit(1)).cast("double")
                       / (F.col("tr") + F.lit(n_buckets)).cast("double"))
                )
                * F.lit(DSIR_SCALE)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("lr_u"),
        )
    )
    doc_feats = pairs.where(~F.col("__tgt")).select(
        F.col(id_col), "b", F.col("__n").alias("n")
    )
    return (
        doc_feats.join(F.broadcast(lr), "b")
        .groupBy(id_col)
        .agg(
            F.sum("n").cast("long").alias("n_feat"),
            F.sum(F.col("n") * F.col("lr_u")).cast("long").alias("weight_u"),
        )
    )
