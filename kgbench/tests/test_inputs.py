import dataclasses

import pandas as pd
import pytest

from inputs import WORKLOADS, make_documents, make_kg_inputs, oracle_sample

TINY_KG = dataclasses.replace(WORKLOADS["kg_tag_heavy"], n_pages=30, n_entities=40)


def test_documents_deterministic_per_seed():
    pd.testing.assert_frame_equal(make_documents(300, 5), make_documents(300, 5))


def test_documents_differ_across_seeds():
    assert not make_documents(300, 5).text.equals(make_documents(300, 6).text)


def test_documents_plant_near_duplicates():
    docs = make_documents(400, 3)
    assert docs.doc_id.is_unique
    assert docs.text.str.split(" ").str.len().between(10, 100).all()
    # one document in twenty is a one-word edit of another
    sets = [set(t.split(" ")) for t in docs.text]
    near = sum(
        1 for i in range(len(sets)) for j in range(i + 1, len(sets))
        if len(sets[i] & sets[j]) / len(sets[i] | sets[j]) >= 0.9
    )
    assert near >= 400 // 20 * 0.9


def test_kg_inputs_deterministic_per_seed():
    (p1, a1), (p2, a2) = make_kg_inputs(TINY_KG, 9), make_kg_inputs(TINY_KG, 9)
    pd.testing.assert_frame_equal(p1, p2)
    pd.testing.assert_frame_equal(a1, a2)


def test_kg_inputs_differ_across_seeds():
    (p1, a1), (p2, a2) = make_kg_inputs(TINY_KG, 9), make_kg_inputs(TINY_KG, 10)
    assert not p1.text.equals(p2.text)
    assert not a1.alias.equals(a2.alias)
    assert len(p1) == len(p2) == TINY_KG.n_pages


@pytest.mark.parametrize("seed", [1, 2])
def test_oracle_sample_is_seeded_subset(seed):
    pages, _ = make_kg_inputs(TINY_KG, 4)
    a, b = oracle_sample(pages, 7, seed), oracle_sample(pages, 7, seed)
    assert list(a.url) == list(b.url)
    assert len(set(a.url)) == 7 and set(a.url) <= set(pages.url)
