"""Seeded benchmark inputs.

The kg workloads use the program's own corpus generator
(``char_ner_spark.fixtures``), so the pages carry the relation templates the
extractor matches; the seed picks the dictionary and the pages. The dedup
corpus has the shape of the bench ``documents`` table (uniform words from a
31-word vocabulary, 10-100 tokens per document, planted near-duplicates) and
is generated here, so the benchmark reads nothing outside its checkout.

Every generator is a pure function of its arguments: the same seed gives the
same bytes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "kg" or "dedup"
    n_pages: int = 0
    n_entities: int = 0
    sents_lo: int = 0
    sents_hi: int = 0
    n_docs: int = 0
    oracle_pages: int = 0  # seeded url sample checked against oracle.run_oracle


#: why each workload exists is recorded in kgbench/README.md
WORKLOADS: dict[str, Workload] = {
    "kg_tag_heavy": Workload("kg_tag_heavy", "kg", n_pages=16000, n_entities=500,
                             sents_lo=3, sents_hi=8, oracle_pages=40),
    "kg_link_heavy": Workload("kg_link_heavy", "kg", n_pages=3000,
                              n_entities=20000, sents_lo=1, sents_hi=2,
                              oracle_pages=40),
    "dedup_ngram": Workload("dedup_ngram", "dedup", n_docs=5000),
}

_DOC_VOCAB = (
    "a the data spark batch part line column order small sort fast value "
    "scan hash slow group agg filter query big key window row table stream "
    "merge vector join customer"
).split()


def make_kg_inputs(w: Workload, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(pages, alias dictionary) for a kg workload."""
    from char_ner_spark.fixtures import make_alias_table, make_pages

    alias = make_alias_table(w.n_entities, seed=seed)
    pages = make_pages(w.n_pages, seed=seed, alias_df=alias,
                       sents_lo=w.sents_lo, sents_hi=w.sents_hi)
    return pages, alias


def make_documents(n_docs: int, seed: int) -> pd.DataFrame:
    """(doc_id, text): the dedup corpus. One document in twenty is a copy
    of another with one word replaced, so the query has answers."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_DOC_VOCAB, dtype=object)
    docs = [list(vocab[rng.integers(0, len(vocab), size=n)])
            for n in rng.integers(10, 101, size=n_docs)]
    k = n_docs // 20
    picked = rng.choice(n_docs, size=2 * k, replace=False)
    for src, dst in zip(picked[:k], picked[k:]):
        copy = list(docs[src])
        copy[rng.integers(len(copy))] = vocab[rng.integers(len(vocab))]
        docs[dst] = copy
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64),
                         "text": [" ".join(d) for d in docs]})


def oracle_sample(pages: pd.DataFrame, k: int, seed: int) -> pd.DataFrame:
    """Seeded subset of pages for the per-invocation oracle check."""
    rng = np.random.default_rng(seed + 7919)
    idx = np.sort(rng.choice(len(pages), size=min(k, len(pages)), replace=False))
    return pages.iloc[idx].reset_index(drop=True)


def write_parquet(df: pd.DataFrame, path: str) -> str:
    """Spark reads microsecond timestamps only."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_parquet(path, index=False, coerce_timestamps="us")
    return path
