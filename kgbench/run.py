"""Paired benchmark of the KG job and the n-gram dedup query.

    python3 kgbench/run.py --workload kg_tag_heavy --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` under
``.kgbench_work/`` in the checkout and the program runs from the checkout's
``char_ner_spark`` package. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. The line before it
carries the host fingerprint and the raw samples. kgbench/README.md
describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from inputs import WORKLOADS
from sparkhost import (ROOT, WORK, host_fingerprint, jvm_live_mb, process_age_s,
                       python_peak_mb, size_to_host, start_session, stop_jvm)

#: timed operations per run, whatever --seconds allows
MIN_OPS = 4
#: timed untraced operations in a traced run: the reference for
#: trace.overhead_s. One, because the traced part that follows is long
TRACE_MIN_OPS = 1


def warm_up(op) -> float:
    """One untimed run on a small input before timing (one eighth of the
    pages for kg). It pays the cold costs (JVM class loading, plan codegen,
    Python worker start); its output is checked like a timed run's. The JVM
    is still warming up after it: the first full-size kg job takes 20-30%
    longer than the ones after it, and the median of MIN_OPS drops it. A
    second, full-size warm-up run did not remove that gap reliably and cost
    as much as a fourth timed run."""
    dt, res = op.run(small=True)
    op.check(res)
    return dt


def measure(op, seconds: float, min_ops: int,
            expect_digest: str | None = None) -> dict:
    """Timed operations for ``seconds`` (at least ``min_ops``). An operation
    fails when it raises or its digest differs from the first one's (or
    from ``expect_digest`` when given)."""
    samples, attempted, failed = [], 0, 0
    ref, n_out = expect_digest, None
    t_end = time.perf_counter() + seconds
    while attempted < min_ops or time.perf_counter() < t_end:
        attempted += 1
        try:
            dt, res = op.run()
            n, dig = op.check(res)
        except Exception:
            traceback.print_exc()
            failed += 1
            continue
        samples.append(dt)
        n_out = n
        if ref is None:
            ref = dig
        elif dig != ref:
            print(f"digest mismatch: {dig} != {ref}", file=sys.stderr)
            failed += 1
    return {"samples": samples, "attempted": attempted, "failed": failed,
            "digest": ref, "output_rows": n_out}


def run(workload: str, seed: int, seconds: float, trace: bool,
        expect_digest: str | None = None, w=None) -> tuple[dict, dict]:
    """One benchmark invocation → (result object, detail object). ``w``
    overrides the workload's sizes (tests run tiny ones)."""
    from ops import make_op

    w = w or WORKLOADS[workload]
    shutil.rmtree(WORK, ignore_errors=True)
    host = host_fingerprint()
    size_to_host(host)
    sys.path.insert(0, ROOT)
    import char_ner_spark  # noqa: F401  (fail before starting a JVM)

    with ThreadPoolExecutor(max_workers=1) as pool:
        # the inputs are generated while the JVM starts
        pending = pool.submit(make_op, w, seed)
        spark = start_session()
    try:
        op = pending.result()
        op.bind(spark)
        warm = warm_up(op)
        setup_s = process_age_s()
        m = measure(op, seconds, TRACE_MIN_OPS if trace else MIN_OPS,
                    expect_digest)
        # after the timed runs, so its full collections do not disturb them
        mem = {"python_peak": python_peak_mb(), "jvm_live": jvm_live_mb(spark)}
        # the oracle comparison counts as one more checked operation
        attempted, failed, oracle = m["attempted"] + 1, m["failed"], False
        try:
            oracle = m["output_rows"] is not None and op.oracle_ok()
        except Exception:
            traceback.print_exc()
        if not oracle:
            print("oracle check failed", file=sys.stderr)
            failed += 1
        job_s = statistics.median(m["samples"]) if m["samples"] else float("nan")
        detail = {"workload": workload, "seed": seed, "host": host,
                  "setup_s": setup_s, "warmup_s": warm,
                  "job_s_samples": m["samples"], "output_rows": m["output_rows"],
                  "digest": m["digest"], "oracle_ok": oracle, "memory_mb": mem}
        if trace:
            from layers import traced_metrics

            spark, metrics = traced_metrics(spark, op, w, seed, job_s)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "job_s": (job_s, "s"),
                "triples_per_s": ((m["output_rows"] or 0) / job_s, "1/s"),
                "driver_peak_rss_mb": (mem["python_peak"] + mem["jvm_live"], "MB"),
                "ok_frac": ((attempted - failed) / attempted, "ratio"),
            }
    finally:
        stop_jvm(spark)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result, detail = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
