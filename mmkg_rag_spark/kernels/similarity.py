"""String similarity kernels (rapidfuzz-compatible, stdlib-only).

The reference relies on ``rapidfuzz.fuzz.token_sort_ratio`` (dedup & image
linking: deduplicate.py:8,151; mmodal.py:10,177) and ``token_ratio``
(retrieval: search.py:11,60-63). rapidfuzz is not available in this
environment, so we implement the same scores from their public definitions:

- ``ratio``            = normalized Indel similarity × 100, where
                         indel_distance = len1 + len2 − 2·LCS.
- ``token_sort_ratio`` = ratio over the whitespace-token-sorted strings.
- ``token_set_ratio``  = max over the three set-decomposition comparisons
                         (fuzzywuzzy/rapidfuzz token_set construction).
- ``token_ratio``      = max(token_sort_ratio, token_set_ratio).

LCS uses Hyyrö's bit-parallel algorithm — O(len1·len2/wordsize) with Python
big-int words, fast enough inside Arrow batches for short entity strings.
LSH blocking (operators/dedup.py) keeps the number of pairs bounded, so these
kernels only ever score candidate pairs, never the full cross product.
"""

from __future__ import annotations

from functools import lru_cache


def _lcs_len(a: str, b: str) -> int:
    """Length of the longest common subsequence (bit-parallel)."""
    m = len(a)
    if m == 0 or len(b) == 0:
        return 0
    # positional bitmask per character of `a`
    masks: dict[str, int] = {}
    bit = 1
    for ch in a:
        masks[ch] = masks.get(ch, 0) | bit
        bit <<= 1
    full = (1 << m) - 1
    v = full
    for ch in b:
        u = v & masks.get(ch, 0)
        v = (v + u) | (v - u)
    # zeros within the m-bit window count matched positions
    return m - bin(v & full).count("1")


def indel_distance(a: str, b: str) -> int:
    """Insert/delete edit distance (substitution = delete + insert)."""
    return len(a) + len(b) - 2 * _lcs_len(a, b)


def ratio(a: str, b: str) -> float:
    """Normalized indel similarity in [0, 100] (rapidfuzz ``fuzz.ratio``)."""
    total = len(a) + len(b)
    if total == 0:
        return 100.0
    return 100.0 * (1.0 - indel_distance(a, b) / total)


def _token_sorted(s: str) -> str:
    return " ".join(sorted(s.split()))


def token_sort_ratio(a: str, b: str) -> float:
    """ratio() over whitespace-token-sorted inputs."""
    return ratio(_token_sorted(a), _token_sorted(b))


def token_set_ratio(a: str, b: str) -> float:
    """Set-decomposition ratio: compare shared tokens vs each remainder."""
    ta, tb = set(a.split()), set(b.split())
    if not ta and not tb:
        return 100.0
    if not ta or not tb:
        return 0.0
    common = ta & tb
    only_a = " ".join(sorted(ta - tb))
    only_b = " ".join(sorted(tb - ta))
    sect = " ".join(sorted(common))
    if common and (not only_a or not only_b):
        return 100.0
    joined_a = f"{sect} {only_a}".strip()
    joined_b = f"{sect} {only_b}".strip()
    best = ratio(joined_a, joined_b)
    if sect:
        best = max(best, ratio(sect, joined_a), ratio(sect, joined_b))
    return best


def token_ratio(a: str, b: str) -> float:
    """max(token_sort_ratio, token_set_ratio) — retrieval-side score 0-100."""
    return max(token_sort_ratio(a, b), token_set_ratio(a, b))


@lru_cache(maxsize=65536)
def pair_similarity(s1: str, s2: str) -> float:
    """Uppercased token_sort_ratio / 100 — the dedup & mmodal score.

    Parity with the memoized ``compute_similarity`` closures at
    deduplicate.py:149-151 and mmodal.py:175-177.
    """
    return token_sort_ratio(s1.upper(), s2.upper()) / 100.0


def avg_pair_similarity(list1: list[str], list2: list[str]) -> float:
    """Mean pairwise ``pair_similarity`` (mmodal.py:179-187)."""
    if not list1 or not list2:
        return 0.0
    sims = [pair_similarity(s1, s2) for s1 in list1 for s2 in list2]
    return sum(sims) / len(sims)


def image_entity_relevance(
    entity_terms: list[str], caption: str, texts: list[str]
) -> float:
    """Image↔entity relevance: 0.6·caption-sim + 0.4·texts-sim.

    Parity with ``compute_entity_relevance`` (mmodal.py:189-211).
    """
    text_sim = avg_pair_similarity(entity_terms, texts or []) if texts else 0.0
    caption_sim = avg_pair_similarity(entity_terms, [caption]) if caption else 0.0
    return caption_sim * 0.6 + text_sim * 0.4
