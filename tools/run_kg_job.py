"""Production entrypoint for the KG-construction job (north_rule launch
shape: ``spark-submit --py-files char_ner_spark.zip tools/run_kg_job.py``).

Runs the full pipeline over a pages parquet dir in resumable work units
(per-partition lineage, idempotent writes) and materializes triples,
entities, and edges Iceberg-style.

    spark-submit --master <cluster> --py-files char_ner_spark.zip \\
        tools/run_kg_job.py --pages <dir> --out <dir> \\
        [--alias-parquet <file>] [--n-parts 64]

Re-running after a crash skips completed units (see _lineage manifest).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages parquet dir (url, warc_ts, html, text, lang)")
    ap.add_argument("--out", required=True, help="output dir (triples/, _lineage/, snapshot.json)")
    ap.add_argument("--alias-parquet", default=None,
                    help="alias dictionary parquet; default: seeded fixture dictionary")
    ap.add_argument("--n-parts", type=int, default=16, help="resumable work units")
    ap.add_argument("--n-entities", type=int, default=500)
    ap.add_argument("--weights-dir", default=None,
                    help="dir of charner_<lang>.npz parameter files; "
                         "default: deterministic seeded weights")
    ap.add_argument("--max-inflight", type=int, default=None,
                    help="work units overlapped as concurrent Spark jobs; "
                         "default auto (min(4, pending units) once >=3 "
                         "units pend), 1 forces the serial loop")
    ap.add_argument("--materialize-graph", action="store_true",
                    help="also materialize the entities/ and edges/ sinks "
                         "(snapshotted per table, same lineage treatment as "
                         "triples/). NOTE: edges/ holds per-work-unit "
                         "PARTIAL aggregates partitioned by part_id — read "
                         "total weights via lineage.read_edges, not the "
                         "directory directly")
    ap.add_argument("--retain-snapshots", type=int, default=None,
                    help="expire all but the newest N snapshot files per "
                         "table (bounds metadata growth at K~10k commits)")
    ap.add_argument("--compact", action="store_true",
                    help="after the units complete, rewrite each sink "
                         "part's small shuffle-task files as one coalesced "
                         "file (checksum-verified swap; content invariant)")
    args = ap.parse_args()

    import pandas as pd

    from pyspark.sql import SparkSession

    from char_ner_spark import lineage
    from char_ner_spark.fixtures import make_alias_table

    spark = SparkSession.builder.appName("char_ner_spark_kg_job").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.alias_parquet:
        alias_pdf = pd.read_parquet(args.alias_parquet)
    else:
        alias_pdf = make_alias_table(args.n_entities, seed=42)

    weights_map = None
    if args.weights_dir:
        import glob

        from char_ner_spark.tagger import load_weights

        weights_map = {
            os.path.basename(p)[len("charner_"):-len(".npz")]: load_weights(p)
            for p in sorted(glob.glob(os.path.join(args.weights_dir, "charner_*.npz")))
        }
        if not weights_map:
            raise SystemExit(f"no charner_<lang>.npz files in {args.weights_dir}")

    pages = spark.read.parquet(args.pages)
    sinks = ("triples", "edges", "entities") if args.materialize_graph else ("triples",)
    t0 = time.time()
    rows = lineage.run_partitioned(
        spark, pages, alias_pdf, args.out, n_parts=args.n_parts,
        weights_map=weights_map, max_inflight=args.max_inflight,
        sinks=sinks, retain=args.retain_snapshots,
    )
    if args.compact:
        for table in sinks:
            lineage.compact_table(spark, args.out, table=table)
    n_triples = lineage.read_triples(spark, args.out).count()
    units_run = len({r["part_id"] for r in rows if r["stage"] == "triples"})
    print(json.dumps({
        "units_run": units_run,
        "units_total": args.n_parts,
        "triples": n_triples,
        "sec": round(time.time() - t0, 2),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
