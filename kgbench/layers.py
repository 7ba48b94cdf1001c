"""The traced run: per-layer metrics, timed from the benchmark's side.

Spans are taken around calls into each module's public functions (the
program itself is not instrumented), and Spark's own task metrics are read
back from the event log, per job group. A layer the workload does not
exercise is measured on a companion input from the other workload's
generator, so every run reports every layer; kgbench/README.md maps each
layer metric to the end-to-end metric and workload it should move.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import os
import time

from eventlog import FIELDS, read_file
from inputs import WORKLOADS, oracle_sample
from ops import MULTI_UNIT_PARTS, DedupQuery, KgJob, digest, triple_keys
from sparkhost import WORK, start_session

#: job groups read back from the event log
STAGES = ("dictionary", "tag", "link", "triples", "dedup")
#: pages of the kg companion in a dedup_ngram traced run
COMPANION_PAGES = 300
#: pages in the single-threaded layer sample
LAYER_PAGES = 200


@contextlib.contextmanager
def timed_calls(module, names):
    """Wrap ``module.<name>`` for each name; yields {name: [calls, seconds]}.
    The program looks these up as module globals, so its own calls go
    through the wrappers. Restored on exit."""
    acc = {n: [0, 0.0] for n in names}
    saved = {n: getattr(module, n) for n in names}

    def wrap(name, f):
        @functools.wraps(f)
        def timed(*a, **k):
            t0 = time.perf_counter()
            try:
                return f(*a, **k)
            finally:
                acc[name][0] += 1
                acc[name][1] += time.perf_counter() - t0
        return timed

    for n, f in saved.items():
        setattr(module, n, wrap(n, f))
    try:
        yield acc
    finally:
        for n, f in saved.items():
            setattr(module, n, f)


def _in_group(spark, group: str, fn):
    spark.sparkContext.setJobGroup(group, f"kgbench {group}")
    try:
        t0 = time.perf_counter()
        out = fn()
        return time.perf_counter() - t0, out
    finally:
        spark.sparkContext.setJobGroup("untracked", "kgbench")


def stage_split(spark, kg) -> dict:
    """Each run_pipeline stage forced on its own, under its job group."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from char_ner_spark import pipeline

    pages = spark.read.parquet(kg.pages_path)

    def dictionary():
        ds = pipeline.build_dictionary_state(spark, kg.alias)
        ds["canon"].count()
        return ds

    dict_s, ds = _in_group(spark, "dictionary", dictionary)
    mentions = pipeline.tag_pages(pages).persist(StorageLevel.MEMORY_AND_DISK)
    tag_s, n_mentions = _in_group(spark, "tag", mentions.count)

    def link():
        linked = pipeline.link_pairs(mentions, {"bands": ds["bands"]},
                                     alias_pdf=kg.alias)
        linked.write.format("noop").mode("overwrite").save()
        return linked

    link_s, linked = _in_group(spark, "link", link)
    triples = pipeline.extract_triples(linked, ds["canon"],
                                       pipeline.middles_table(spark))
    triples_s, n_triples = _in_group(spark, "triples", triples.count)
    surfaces = (mentions.select(F.explode(F.array("surface", "next_surface")).alias("s"))
                .filter(F.col("s").isNotNull()).distinct().count())
    n_linked = linked.filter(F.col("entity_id").isNotNull()).count()
    mentions.unpersist()
    return {
        "pipeline.dictionary_s": (dict_s, "s"),
        "pipeline.tag_s": (tag_s, "s"),
        "pipeline.link_s": (link_s, "s"),
        "pipeline.triples_s": (triples_s, "s"),
        "pipeline.mentions": (n_mentions, "count"),
        "pipeline.distinct_surfaces": (surfaces, "count"),
        "pipeline.link_rate": (n_linked / max(n_mentions, 1), "ratio"),
        "pipeline.triples": (n_triples, "count"),
    }


def lineage_split(kg) -> tuple[dict, float]:
    """One run_partitioned with the lineage module's public functions
    timed; returns the metrics and the job's wall time."""
    from char_ner_spark import lineage

    names = ("table_checksum", "write_snapshot", "append_manifest")
    with timed_calls(lineage, names) as acc:
        job_s, res = kg.run()
    kg.check(res)
    return {
        "lineage.checksum_s": (acc["table_checksum"][1], "s"),
        "lineage.snapshot_s": (acc["write_snapshot"][1], "s"),
        "lineage.manifest_s": (acc["append_manifest"][1], "s"),
        "lineage.commits": (acc["append_manifest"][0], "count"),
    }, job_s


def multi_unit_split(kg) -> dict:
    """One run_partitioned over the same pages with MULTI_UNIT_PARTS units,
    which takes the overlapped path; its triples must equal the one-unit
    job's."""
    want = digest(triple_keys(kg.last_triples))
    job_s, res = kg.run(n_parts=MULTI_UNIT_PARTS)
    kg.check(res)
    if digest(triple_keys(kg.last_triples)) != want:
        raise RuntimeError("multi-unit triples differ from the one-unit job's")
    return {"lineage.multi_unit_job_s": (job_s, "s")}


def single_thread_layers(kg, seed: int) -> dict:
    """textops, tagger and linking called in this process on a fixed seeded
    sample of the pages."""
    from char_ner_spark import linking, tagger, textops

    sample = oracle_sample(kg.pages, LAYER_PAGES, seed + 1)
    t0 = time.perf_counter()
    texts = [textops.extract_text(h) for h in sample.html]
    extract_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    sents = [textops.split_sentences(t) for t in texts]
    split_s = time.perf_counter() - t0
    by_lang: dict[str, list[str]] = {}
    for lang, ss in zip(sample.lang, sents):
        by_lang.setdefault(lang, []).extend(ss)
    for lang, ss in by_lang.items():  # per-language weights built untimed
        tagger.tag_sentences(ss[:1], lang)
    surfaces = set()
    with timed_calls(tagger, ("bilstm_logits", "feature_bias", "viterbi_batch")) as acc:
        t0 = time.perf_counter()
        for lang, ss in by_lang.items():
            for sent, spans in zip(ss, tagger.tag_sentences(ss, lang)):
                surfaces.update(sent[b:e] for b, e, _, _ in spans)
        tag_s = time.perf_counter() - t0
    parts = sum(v[1] for v in acc.values())
    t0 = time.perf_counter()
    index = linking.AliasIndex(kg.alias)
    index_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    index.link_batch(sorted(surfaces))
    link_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    linking.union_find_canonical(kg.alias)
    uf_s = time.perf_counter() - t0
    return {
        "textops.extract_s": (extract_s, "s"),
        "textops.split_s": (split_s, "s"),
        "tagger.tag_sentences_s": (tag_s, "s"),
        "tagger.bilstm_s": (acc["bilstm_logits"][1], "s"),
        "tagger.feature_bias_s": (acc["feature_bias"][1], "s"),
        "tagger.viterbi_s": (acc["viterbi_batch"][1], "s"),
        "tagger.glue_s": (tag_s - parts, "s"),
        "tagger.sentences": (sum(len(s) for s in by_lang.values()), "count"),
        "tagger.chars": (sum(len(x) for s in by_lang.values() for x in s), "count"),
        "linking.index_build_s": (index_s, "s"),
        "linking.link_batch_s": (link_s, "s"),
        "linking.union_find_s": (uf_s, "s"),
    }


def dedup_split(spark) -> dict:
    """The counting path of the dedup query on the ``documents`` view."""
    from char_ner_spark.dedup import ngram_jaccard_pairs_counting

    def count():
        df = ngram_jaccard_pairs_counting(spark, "documents")
        if df is None:
            raise RuntimeError("documents exceed the counting-path budget")
        return df.collect()

    dt, rows = _in_group(spark, "dedup", count)
    return {"dedup.counting_s": (dt, "s"), "dedup.pairs": (len(rows), "count")}


def spark_figures(event_dir: str) -> dict:
    (name,) = os.listdir(event_dir)
    groups = read_file(os.path.join(event_dir, name))
    zero = dict.fromkeys(FIELDS, 0.0)
    return {f"spark.{st}.{f}": (groups.get(st, zero)[f], unit)
            for st in STAGES for f, unit in FIELDS.items()}


def traced_metrics(spark, op, w, seed: int, untraced_job_s: float):
    """Restart the session with the event log on, then take every layer.
    Returns the (stopped) session and the per-layer metrics."""
    spark.stop()
    event_dir = os.path.join(WORK, "eventlog")
    spark = start_session(event_log_dir=event_dir)
    spark.sparkContext.setJobGroup("untracked", "kgbench")
    op.bind(spark)
    if w.kind == "kg":
        kg = op
        dd = DedupQuery(WORKLOADS["dedup_ngram"], seed)
        dd.bind(spark)
        dd.check(dd.run()[1])  # warm the companion
    else:
        dd = op
        kg = KgJob(dataclasses.replace(WORKLOADS["kg_tag_heavy"],
                                       n_pages=COMPANION_PAGES),
                   seed, tag="companion")
        kg.bind(spark)
        for small in (True, False):  # warm the companion
            kg.check(kg.run(small=small)[1])
    # the workload's own operation, warmed in this session (kg on the small
    # input), then traced
    op.check(op.run(small=True)[1])
    metrics, kg_job_s = lineage_split(kg)
    metrics.update(multi_unit_split(kg))
    if w.kind == "kg":
        traced_job_s = kg_job_s
    else:
        traced_job_s, rows = dd.run()
        dd.check(rows)
    metrics.update(stage_split(spark, kg))
    metrics.update(dedup_split(spark))
    metrics.update(single_thread_layers(kg, seed))
    metrics["trace.job_s"] = (traced_job_s, "s")
    metrics["trace.overhead_s"] = (traced_job_s - untraced_job_s, "s")
    spark.stop()  # flushes the event log
    metrics.update(spark_figures(event_dir))
    return spark, metrics
