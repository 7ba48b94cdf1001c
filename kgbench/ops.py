"""The two operations the benchmark times, each with its output checks.

``bind()`` attaches a session; ``run()`` is the timed call; ``check()``
(untimed) returns the output row count and an order-insensitive digest;
``oracle_ok()`` compares the last output with an independent oracle.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

from inputs import make_documents, make_kg_inputs, oracle_sample, write_parquet
from sparkhost import WORK

#: work units per timed job. Each unit pays a fixed cost for its three sink
#: commits (write, read back, checksum, manifest append, snapshot), so with
#: more units that fixed cost, not the tagger, would dominate a job of a size
#: the run can repeat. The traced run times the multi-unit path on its own
N_PARTS = 1
#: run_partitioned's default unit count; three or more units take its
#: overlapped path (units as concurrent Spark jobs)
MULTI_UNIT_PARTS = 4
SINKS = ("triples", "edges", "mentions", "entities")
TRIPLE_COLS = ["subj", "pred", "obj", "url", "sent_idx", "conf"]


def digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def triple_keys(df) -> list[tuple]:
    return [(r.subj, r.pred, r.obj, r.url, r.sent_idx, round(r.conf * 1e6))
            for r in df[TRIPLE_COLS].itertuples(index=False)]


class KgJob:
    """One ``lineage.run_partitioned`` over the generated pages, all four
    sinks, into a fresh output directory."""

    def __init__(self, w, seed: int, tag: str = "kg"):
        import pandas as pd

        self.spark, self.w, self.seed = None, w, seed
        self.pages, alias = make_kg_inputs(w, seed)
        inp = os.path.join(WORK, "inputs", tag)
        self.pages_path = write_parquet(self.pages, os.path.join(inp, "pages.parquet"))
        self.warm_path = write_parquet(self.pages.iloc[: max(1, len(self.pages) // 8)],
                                       os.path.join(inp, "warm_pages.parquet"))
        self.alias = pd.read_parquet(
            write_parquet(alias, os.path.join(inp, "alias.parquet")))
        self.out_root = os.path.join(WORK, "out", tag)
        self.n_runs = 0
        self.last_triples = None

    def bind(self, spark) -> None:
        self.spark = spark

    def run(self, small: bool = False, n_parts: int = N_PARTS):
        from char_ner_spark import lineage

        out = os.path.join(self.out_root, f"job-{self.n_runs}")
        self.n_runs += 1
        shutil.rmtree(out, ignore_errors=True)
        pages = self.spark.read.parquet(self.warm_path if small else self.pages_path)
        t0 = time.perf_counter()
        manifest = lineage.run_partitioned(self.spark, pages, self.alias, out,
                                           n_parts=n_parts, sinks=SINKS)
        return time.perf_counter() - t0, (out, manifest)

    def check(self, result) -> tuple[int, str]:
        """(committed triples, digest of the triples plus every sink's
        manifest row count and checksum)."""
        from char_ner_spark import lineage

        out, manifest = result
        tri = lineage.read_triples(self.spark, out).select(TRIPLE_COLS).toPandas()
        shutil.rmtree(out, ignore_errors=True)
        committed = sum(r["rows_out"] for r in manifest if r["stage"] == "triples")
        if committed != len(tri):
            raise RuntimeError(f"manifest says {committed} triples, read {len(tri)}")
        self.last_triples = tri
        sinks = sorted((r["stage"], r["part_id"], r["rows_out"], r["checksum"])
                       for r in manifest)
        return len(tri), digest([digest(triple_keys(tri)), repr(sinks)])

    def oracle_ok(self) -> bool:
        """Triples of a seeded url sample equal oracle.run_oracle on those
        pages (triples are page-local, so the subset check is exact)."""
        from char_ner_spark.oracle import run_oracle

        sample = oracle_sample(self.pages, self.w.oracle_pages, self.seed)
        want = run_oracle(sample, self.alias)["triples"]
        got = self.last_triples[self.last_triples.url.isin(set(sample.url))]
        return len(want) > 0 and sorted(triple_keys(got)) == sorted(triple_keys(want))


class DedupQuery:
    """One collect of ``driver_queries.ngram_jaccard_pairs`` over the
    generated documents, registered as the ``documents`` view."""

    def __init__(self, w, seed: int):
        self.docs_path = write_parquet(make_documents(w.n_docs, seed),
                                       os.path.join(WORK, "inputs", "documents.parquet"))
        self.spark, self.last = None, None

    def bind(self, spark) -> None:
        self.spark = spark
        spark.read.parquet(self.docs_path).createOrReplaceTempView("documents")

    def run(self, small: bool = False):
        """``small`` is ignored: the warm-up runs the full query too."""
        from char_ner_spark.driver_queries import ngram_jaccard_pairs

        t0 = time.perf_counter()
        rows = ngram_jaccard_pairs(self.spark, "documents").collect()
        return time.perf_counter() - t0, rows

    def check(self, rows) -> tuple[int, str]:
        self.last = [(int(r.doc_a), int(r.doc_b), int(r.jaccard_e4)) for r in rows]
        return len(rows), digest(self.last)

    def oracle_ok(self) -> bool:
        """The collected pairs equal DuckDB running the query's oracle SQL."""
        import duckdb

        from char_ner_spark.driver_queries import SPARK_FN

        sql = SPARK_FN["ngram_jaccard_pairs"][1]
        con = duckdb.connect()
        try:
            path = self.docs_path.replace("'", "''")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            want = [tuple(int(x) for x in r) for r in con.execute(sql).fetchall()]
        finally:
            con.close()
        return len(want) > 0 and sorted(want) == sorted(self.last)


def make_op(w, seed: int):
    """The workload's operation with its inputs written; ``bind`` it to a
    session before running it. Needs no session, so it can run while the
    session starts."""
    return (KgJob if w.kind == "kg" else DedupQuery)(w, seed)
