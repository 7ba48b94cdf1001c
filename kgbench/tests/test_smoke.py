"""Tiny end-to-end runs of each workload (each starts its own JVM, ~30 s)."""

import dataclasses

import pytest

import run
from inputs import WORKLOADS

TINY = {
    "kg_tag_heavy": dict(n_pages=40, n_entities=60, oracle_pages=10),
    "dedup_ngram": dict(n_docs=200),
}


@pytest.mark.parametrize("name", sorted(TINY))
def test_wrong_expected_digest_counts_every_timed_run_as_failed(name):
    w = dataclasses.replace(WORKLOADS[name], **TINY[name])
    result, detail = run.run(name, seed=3, seconds=0, trace=False,
                             expect_digest="not-a-digest", w=w)
    timed = len(detail["job_s_samples"])
    assert timed == run.MIN_OPS
    # the oracle comparison still passes: only the digest gate fired
    assert detail["oracle_ok"] is True
    assert result["correct"] is False
    assert result["attempted"] == timed + 1
    assert result["failed"] == timed
    metrics = result["metrics"]
    assert metrics["ok_frac"]["value"] == pytest.approx(1 / (timed + 1))
    assert metrics["job_s"]["value"] > 0 and metrics["setup_s"]["value"] > 0
