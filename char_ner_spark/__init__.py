"""char_ner_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch re-architecture of the capabilities of the public
``ozanarkancan/char-ner`` repo (character-level BiLSTM NER, COLING 2016)
as a web-scale Spark dataflow per BASELINE.json north_rule:

    pages(url, warc_ts, html, text, lang)
      → extract_text (byte-identical per url)
      → char-tensor BiLSTM + Viterbi mention detection (Arrow UDFs)
      → alias linking (broadcast dict + char-ngram MinHash LSH)
      → entity canonicalization (connected components)
      → (subj, pred, obj) triples + entity/edge graph
      → Iceberg-style partitioned parquet, per-partition lineage/resume

Everything here derives from public knowledge only: the Apache Spark /
PySpark API and the published CharNER paper. The module layout mirrors
SURVEY.md §7's build plan.
"""

__version__ = "0.2.0"

# Curated facade: the engine's user-facing API, one import away
# (``from char_ner_spark import run_pipeline``). Resolved lazily (PEP 562)
# so importing the package costs nothing until a symbol is touched — the
# modules pull in pyspark/numpy/pandas.
_EXPORTS = {
    # batch pipeline (stage functions + end-to-end)
    "run_pipeline": "pipeline",
    "extract_text_df": "pipeline",
    "tag_pages": "pipeline",
    "link_pairs": "pipeline",
    "extract_triples": "pipeline",
    "connected_components": "pipeline",
    "canonical_map": "pipeline",
    "edges_from_triples": "pipeline",
    "entities_table": "pipeline",
    "middles_table": "pipeline",
    # lineage / snapshots / resume
    "run_partitioned": "lineage",
    "read_table": "lineage",
    "read_triples": "lineage",
    "read_edges": "lineage",
    "write_snapshot": "lineage",
    "current_snapshot": "lineage",
    "expire_snapshots": "lineage",
    "compact_table": "lineage",
    "table_checksum": "lineage",
    # streaming
    "stream_pages": "streaming",
    "stream_triples": "streaming",
    "streamed_mentions": "streaming",
    "windowed_page_counts": "streaming",
    "dedup_pages_stream": "streaming",
    "sessionize_stream": "streaming",
    # sources / sinks
    "read_conll": "sources",
    # evaluation
    "span_f1": "evaluation",
    # similarity / ANN
    "cosine_topk": "similarity",
    "lsh_topk": "similarity",
    "ivf_topk": "similarity",
    "ivf_topk_e6": "similarity",
    "write_ivf_index": "similarity",
    "ivf_topk_from_index": "similarity",
    "cosine_near_dups": "similarity",
    "embedding_near_dup_groups": "similarity",
    # corpus dedup (cross-engine SQL)
    "simhash_sql": "dedup",
    "minhash_bands_sql": "dedup",
    "simhash_near_dup_sql": "dedup",
    "near_dup_groups": "dedup",
    "write_shingle_index": "dedup",
    # text ops / linking primitives
    "extract_text": "textops",
    "normalize_surface": "textops",
    "minhash_bands_batch": "textops",
    "batch_jaccard_pairs": "textops",
    "AliasIndex": "linking",
    "normalize_gap": "relations",
    "match_middles": "relations",
    "auto_lsh_params": "similarity",
    # multimodal plumbing
    "extract_media_features": "multimodal",
    "sample_video_frames": "multimodal",
}

__all__ = sorted(_EXPORTS) + ["__version__"]


def __getattr__(name: str):
    mod = _EXPORTS.get(name)
    if mod is None:
        raise AttributeError(f"module 'char_ner_spark' has no attribute {name!r}")
    import importlib

    return getattr(importlib.import_module(f".{mod}", __name__), name)


def __dir__():
    return __all__
