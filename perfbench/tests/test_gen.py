"""The generators are functions of the seed alone."""

import pytest

import gen


@pytest.mark.parametrize("make", [
    lambda seed: gen.files_corpus(seed, 60, 120),
    lambda seed: gen.customer_sets(seed, 600, 5),
], ids=["files_corpus", "customer_sets"])
def test_same_seed_same_content_and_other_seed_differs(make):
    first, again, other = make(7), make(7), make(8)
    assert gen.content_hash(*first) == gen.content_hash(*again)
    assert gen.content_hash(*first) != gen.content_hash(*other)


def test_files_truth_points_at_copies():
    a, b, truth = gen.files_corpus(3, 100, 200)
    assert len(truth) == 15 + 25
    merged = truth.merge(a, on="a").merge(b, on="b", suffixes=("_a", "_b"))
    assert (merged["lang_a"] == merged["lang_b"]).all()
    exact = merged.iloc[:15]
    assert (exact["content_a"] == exact["content_b"]).all()


def test_customer_truth_is_the_overlap():
    A, B, truth = gen.customer_sets(5, 900, 9)
    assert set(truth["a"]) == set(A["a"]) & set(B["b"])
    assert A["a"].is_unique and B["b"].is_unique
    corrupted = B["name"].str.startswith("Custmer#").mean()
    assert 0.1 < corrupted < 0.3
