"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and uses only its own
``numpy.random.Generator``, so the same seed yields byte-identical
inputs and the program under test only ever sees the generated rows.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

DIMS = 64
N_COMPONENTS = 16
N_LABELS = 10  # a `label == x` filter keeps ~10% of the rows


@dataclass(frozen=True)
class VectorSet:
    """A Gaussian-mixture corpus plus held-out queries."""

    ids: np.ndarray  # int64 (n,)
    vectors: np.ndarray  # float32 (n, DIMS)
    labels: np.ndarray  # int32 (n,)
    queries: np.ndarray  # float32 (n_queries, DIMS), never corpus members


def _mixture(rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    centers = rng.standard_normal((N_COMPONENTS, DIMS)) * 4.0
    scales = 0.8 + rng.random(N_COMPONENTS) * 0.8  # per-component sigma
    return centers, scales


def _draw(rng, centers, scales, n: int, weights: np.ndarray | None = None) -> np.ndarray:
    comp = rng.choice(N_COMPONENTS, size=n, p=weights)
    v = centers[comp] + rng.standard_normal((n, DIMS)) * scales[comp, None]
    return v.astype(np.float32)


def vector_set(seed: int, n_rows: int, n_queries: int, n_extra: int = 0) -> tuple[VectorSet, np.ndarray]:
    """Corpus of ``n_rows`` mixture vectors with a uniform ``label``,
    ``n_queries`` held-out queries whose component weights are skewed
    (Zipf-like, so a few clusters take most of the traffic), and
    ``n_extra`` further corpus-distributed rows for later inserts."""
    rng = np.random.default_rng([seed, 1])
    centers, scales = _mixture(rng)
    vectors = _draw(rng, centers, scales, n_rows)
    labels = rng.integers(0, N_LABELS, n_rows).astype(np.int32)
    skew = 1.0 / np.arange(1, N_COMPONENTS + 1) ** 1.2
    skew = rng.permutation(skew / skew.sum())
    queries = _draw(rng, centers, scales, n_queries, weights=skew)
    extra = _draw(rng, centers, scales, n_extra)
    vs = VectorSet(np.arange(n_rows, dtype=np.int64), vectors, labels, queries)
    return vs, extra


# ---------------------------------------------------------------------------
# documents


@dataclass(frozen=True)
class DocumentSet:
    docs: pd.DataFrame  # doc_id (int64), text (str)
    benchmark: pd.DataFrame  # text (str): the evaluation set to decontaminate against
    queries: list[str]  # held-out query texts for the embedding search


def _vocabulary(rng: np.random.Generator, n_words: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(3, 10, n_words)
    words = {"".join(rng.choice(letters, size=n)) for n in lengths}
    return np.array(sorted(words))


def document_set(seed: int, n_docs: int, n_queries: int = 64) -> DocumentSet:
    """A corpus shaped for the curation pipeline: Zipf-distributed words
    from a seeded vocabulary, plus planted work for every stage --
    low-quality (shouting, punctuation-heavy) documents, exact
    duplicates that differ only in case and whitespace, near-duplicates
    with one word changed, and documents that quote the benchmark."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng, 4000)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    zipf /= zipf.sum()
    vocab = rng.permutation(vocab)

    def sentence(n: int) -> list[str]:
        return list(vocab[rng.choice(len(vocab), size=n, p=zipf)])

    bench = [" ".join(sentence(int(rng.integers(20, 40)))) for _ in range(50)]
    texts: list[str] = []
    for _ in range(n_docs):
        r = rng.random()
        if texts and r < 0.08:  # exact duplicate, case/whitespace variant
            src = texts[int(rng.integers(0, len(texts)))]
            texts.append("  " + src.upper().replace(" ", "   ") if rng.random() < 0.5 else src + " ")
        elif len(texts) > 1 and r < 0.16:  # near-duplicate: one word changed
            toks = texts[int(rng.integers(0, len(texts)))].split()
            if len(toks) >= 60:
                toks[int(rng.integers(0, len(toks)))] = str(vocab[int(rng.integers(0, len(vocab)))])
            texts.append(" ".join(toks))
        elif r < 0.20:  # low quality: shouting with punctuation
            texts.append(" ".join(w.upper() + "!!" for w in sentence(int(rng.integers(20, 60)))))
        elif r < 0.25:  # contaminated: quotes a benchmark passage
            quote = bench[int(rng.integers(0, len(bench)))].split()[:12]
            body = sentence(int(rng.integers(40, 100)))
            at = int(rng.integers(0, len(body)))
            texts.append(" ".join(body[:at] + quote + body[at:]))
        else:
            texts.append(" ".join(sentence(int(rng.integers(60, 160)))))
    order = rng.permutation(n_docs)
    docs = pd.DataFrame(
        {"doc_id": np.arange(n_docs, dtype=np.int64), "text": [texts[i] for i in order]}
    )
    queries = [" ".join(sentence(int(rng.integers(20, 60)))) for _ in range(n_queries)]
    return DocumentSet(docs, pd.DataFrame({"text": bench}), queries)


# ---------------------------------------------------------------------------
# the tables the registered queries read


REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span_days: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, span_days, n).astype("timedelta64[D]")


def tables(seed: int, orders: int = 4_000, events: int = 8_000, documents: int = 200,
           embeddings: int = 2_000, near=None) -> dict[str, pd.DataFrame]:
    """A small copy of the query registry's input tables (TPC-H-like star
    schema, an event stream, documents and labelled embeddings) with the
    column names, types and value domains the registered queries and
    their DuckDB oracles filter on.  Orders carry 1-7 line items each.
    Every 25th embedding is drawn around the direction ``near`` (the
    registry's fixed query vector), so range queries find rows."""
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp, n_part = max(1, orders // 10), max(1, orders // 150), max(1, orders // 7)
    out = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(REGIONS)}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
    }
    words = np.array(["almond", "blue", "coral", "dark", "frosted", "green", "ivory", "lace", "navy", "ring"])
    retail = np.round(900 + rng.integers(0, 1000, n_part) / 10, 2)
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [" ".join(p) for p in rng.choice(words, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    })
    odate = _days(rng, "1995-01-01", 2404, orders)  # through 2001-08-01
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], orders),
        "o_totalprice": _money(rng, 1000, 500_000, orders),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(PRIORITIES, orders),
    })
    lines = rng.integers(1, 8, orders)
    okey = np.repeat(np.arange(orders, dtype=np.int64), lines)
    n_li = len(okey)
    pkey = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": np.where(ship > np.datetime64("1998-06-17", "us"), "O", "F"),
        "l_shipdate": ship,
    })
    n_users = max(1, events // 60)
    ts = np.datetime64("2024-01-01", "us") + rng.integers(0, 30 * 86_400 * 10**6, events).astype("timedelta64[us]")
    out["events"] = pd.DataFrame({
        "event_id": np.arange(events, dtype=np.int64),
        "ts": np.sort(ts),
        "user_id": rng.integers(0, n_users, events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, events, p=[0.4, 0.05, 0.1, 0.05, 0.4]),
        "value": np.round(rng.exponential(60.0, events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, events)],
    })
    vocab = _vocabulary(rng, 300)
    texts = [" ".join(rng.choice(vocab, int(rng.integers(8, 90)))) for _ in range(documents)]
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(documents, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, documents),
        "source": [f"src{i}" for i in rng.integers(0, 20, documents)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vs, _ = vector_set(seed, embeddings, 0)
    vecs = vs.vectors.astype(np.float64)
    if near is not None:
        rows = np.arange(0, embeddings, 25)
        noise = rng.standard_normal((len(rows), DIMS)) * rng.uniform(0.1, 0.6, (len(rows), 1))
        vecs[rows] = np.asarray(near, np.float64) / np.linalg.norm(near) + noise
    unit = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)  # the queries expect unit vectors
    out["embeddings"] = pd.DataFrame({"vec_id": vs.ids, "embedding": list(unit), "label": vs.labels})
    return out


def fingerprint(*parts) -> str:
    """sha256 over the raw bytes of generated inputs (arrays, frames,
    strings): equal seeds must give equal fingerprints."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, np.ndarray):
            h.update(str(p.dtype).encode())
            h.update(np.ascontiguousarray(p).tobytes())
        elif isinstance(p, pd.DataFrame):
            for name, col in p.items():
                h.update(name.encode())
                if len(col) and isinstance(col.iloc[0], np.ndarray):  # vector column
                    h.update(np.stack(col.to_numpy()).tobytes())
                else:
                    h.update(pd.util.hash_pandas_object(col, index=True).values.tobytes())
        else:
            h.update(repr(p).encode())
    return h.hexdigest()
