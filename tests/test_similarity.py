"""Similarity kernel tests: bit-parallel LCS vs DP oracle + known scores."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mmkg_rag_spark.kernels.similarity import (
    _lcs_len,
    image_entity_relevance,
    indel_distance,
    pair_similarity,
    ratio,
    token_ratio,
    token_set_ratio,
    token_sort_ratio,
)


def lcs_dp(a: str, b: str) -> int:
    """Quadratic DP oracle for LCS length."""
    prev = [0] * (len(b) + 1)
    for ca in a:
        cur = [0]
        for j, cb in enumerate(b, 1):
            cur.append(prev[j - 1] + 1 if ca == cb else max(prev[j], cur[-1]))
        prev = cur
    return prev[-1]


@given(st.text(max_size=40), st.text(max_size=40))
@settings(max_examples=300, deadline=None)
def test_bitparallel_lcs_matches_dp(a, b):
    assert _lcs_len(a, b) == lcs_dp(a, b)


def test_indel_known():
    assert indel_distance("abc", "abc") == 0
    assert indel_distance("abc", "abd") == 2  # substitution = del+ins
    assert indel_distance("", "abc") == 3


def test_ratio_known():
    assert ratio("", "") == 100.0
    assert ratio("abc", "abc") == 100.0
    assert ratio("abcd", "abce") == pytest.approx(75.0)  # LCS=3 → 1-2/8
    assert ratio("abcd", "badc") == pytest.approx(50.0)  # LCS=2 → 1-4/8


def test_token_sort_ratio_order_insensitive():
    assert token_sort_ratio("new york mets", "mets new york") == 100.0
    assert token_sort_ratio("a b c", "c b a") == 100.0


def test_token_set_ratio_subset_is_100():
    assert token_set_ratio("mets", "new york mets") == 100.0
    assert token_set_ratio("a b", "a b c d") == 100.0


def test_token_set_disjoint():
    assert token_set_ratio("xx", "yy") < 100.0
    assert token_set_ratio("", "") == 100.0
    assert token_set_ratio("", "a") == 0.0


def test_token_ratio_is_max():
    for a, b in [("fuzzy was a bear", "fuzzy fuzzy was a bear"), ("abc", "abd")]:
        assert token_ratio(a, b) == max(token_sort_ratio(a, b), token_set_ratio(a, b))


def test_pair_similarity_case_insensitive():
    # dedup score: uppercased token_sort_ratio / 100 (deduplicate.py:149-151)
    assert pair_similarity("John", "john") == 1.0
    assert pair_similarity("John Smith", "smith john") == 1.0
    assert 0 <= pair_similarity("alpha", "omega") < 0.95


def test_image_entity_relevance_weights():
    # 0.6·caption + 0.4·texts (mmodal.py:210)
    score = image_entity_relevance(["Acme"], "Acme", ["Acme"])
    assert score == pytest.approx(0.6 * 1.0 + 0.4 * 1.0)
    assert image_entity_relevance(["Acme"], "", []) == 0.0
    caption_only = image_entity_relevance(["Acme"], "Acme", [])
    assert caption_only == pytest.approx(0.6)
