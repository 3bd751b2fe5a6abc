"""Seeded input tables for the benchmark.

Writes the star (``customer`` hub, ``orders`` spoke, ``nation``
dimension) and the ``documents`` corpus as parquet files, shaped like
the TPC-H-style sf0.1 test tier the library is checked against: the
shape constants below are matched to figures measured on that tier
(README.md, "Inputs"). Everything derives from one numpy ``Generator``
seeded by the caller, so the same seed writes byte-identical tables.

``scale=1.0`` is the sf0.1 star (15k customers, 150k orders) and 2500
documents, half the tier's corpus; the tests pass smaller scales.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
N_NATIONS = 25
# Half the sf0.1 corpus: pinning MinHash signatures and shingle sets of a
# 4000-doc standing corpus took 12-14 s of set-up on a 4-vCPU VM.
N_DOCS = 2500

# Stop words per language match the library's language profiles, so
# detect_language has a signal to find.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "los", "por"],
    "fr": ["le", "la", "de", "et", "un", "une", "les", "des", "que", "pour"],
    "de": ["der", "die", "das", "und", "ein", "eine", "zu", "den", "von", "mit"],
    "zh": ["的", "了", "是", "在", "我", "有", "和", "不", "这", "人"],
}
# the tier's language labels: en 0.41, zh 0.15, es 0.15, fr 0.15, de 0.14
LANG_SHARES = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}
MIN_WORDS, MAX_WORDS = 10, 100  # the tier's documents hold 10-100 words
CONTENT_WORDS = [f"{stem}{i}" for stem in (
    "spark", "join", "scan", "hash", "sort", "merge", "query", "table",
    "batch", "stream", "vector", "window", "group", "filter", "order",
    "value", "column", "row", "key", "data") for i in range(12)]
# Lightly edited and verbatim copies of an earlier doc. On the tier 0.16%
# of texts are exact repeats and 9.5% of docs have a 3-shingle Jaccard
# >= 0.7 partner; these shares reproduce both within a point.
NEAR_DUP_FRAC = 0.06
EXACT_DUP_FRAC = 0.002


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def star_tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    n_cust = max(50, int(15_000 * scale))
    n_ord = 10 * n_cust
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(N_NATIONS, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array(np.arange(N_NATIONS, dtype=np.int32) % 5),
    })
    custkey = np.arange(n_cust, dtype=np.int64)
    customer = pa.table({
        "c_custkey": custkey,
        "c_name": [f"Customer#{k:09d}" for k in custkey],
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, n_cust, dtype=np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    orderdate = (np.datetime64("1995-01-01") + days).astype("datetime64[us]")
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": pa.array(orderdate, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    return {"nation": nation, "customer": customer, "orders": orders}


def _fresh_doc(rng: np.random.Generator, lang: str) -> list[str]:
    n = int(rng.integers(MIN_WORDS, MAX_WORDS + 1))
    stop = STOPWORDS[lang]
    words = []
    for is_stop, i in zip(rng.random(n) < 0.2,
                          rng.integers(0, len(CONTENT_WORDS), n)):
        words.append(stop[i % len(stop)] if is_stop else CONTENT_WORDS[i])
    return words


def documents_table(rng: np.random.Generator, scale: float) -> pa.Table:
    n_docs = max(200, int(N_DOCS * scale))
    langs = list(LANG_SHARES)
    lang_idx = rng.choice(len(langs), n_docs, p=list(LANG_SHARES.values()))
    kind = rng.random(n_docs)
    texts: list[str] = []
    doc_langs: list[str] = []
    for d in range(n_docs):
        lang = langs[lang_idx[d]]
        if d > 0 and kind[d] < EXACT_DUP_FRAC:
            src = int(rng.integers(0, d))
            text, lang = texts[src], doc_langs[src]
        elif d > 0 and kind[d] < EXACT_DUP_FRAC + NEAR_DUP_FRAC:
            src = int(rng.integers(0, d))
            words = texts[src].split(" ")
            for pos in rng.integers(0, len(words), 1 + int(rng.integers(0, 2))):
                words[pos] = CONTENT_WORDS[int(rng.integers(0, len(CONTENT_WORDS)))]
            text, lang = " ".join(words), doc_langs[src]
        else:
            text = " ".join(_fresh_doc(rng, lang))
        texts.append(text)
        doc_langs.append(lang)
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": doc_langs,
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_inputs(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, str]:
    """Write every input table under ``out_dir``; return name → path."""
    rng = np.random.default_rng(seed)
    tables = star_tables(rng, scale)
    tables["documents"] = documents_table(rng, scale)
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        _write(table, paths[name])
    return paths
