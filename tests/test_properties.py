"""Property-based tests (hypothesis) over the pure parity kernels.

The reference ships no property tests (SURVEY.md §5); these pin down the
invariants the Spark operators rely on: similarity metric axioms, chunker
coverage, parser total-ness (never raises on arbitrary input), and
fingerprint normalization idempotence.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from mmkg_rag_spark.kernels.chunker import split_markdown
from mmkg_rag_spark.kernels.parsers import (
    parse_alias,
    parse_er,
    parse_string_list,
    scan_json_objects,
)
from mmkg_rag_spark.kernels.similarity import ratio, token_ratio, token_sort_ratio

TEXT = st.text(max_size=400)
SHORT = st.text(max_size=60)


@given(SHORT, SHORT)
@settings(max_examples=200, deadline=None)
def test_ratio_axioms(a, b):
    r = ratio(a, b)
    assert 0.0 <= r <= 100.0
    assert ratio(a, b) == ratio(b, a)
    assert ratio(a, a) == (100.0 if a else 100.0)


@given(SHORT, SHORT)
@settings(max_examples=200, deadline=None)
def test_token_sort_invariant_to_word_order(a, b):
    toks_a = a.split()
    scrambled = " ".join(reversed(toks_a))
    assert token_sort_ratio(a, b) == token_sort_ratio(scrambled, b)
    assert 0.0 <= token_ratio(a, b) <= 100.0


@given(TEXT, st.integers(min_value=20, max_value=200))
@settings(max_examples=100, deadline=None)
def test_chunker_covers_all_content(text, chunk_size):
    chunks = split_markdown(text, chunk_size, overlap=chunk_size // 4)
    # chunks are whitespace-stripped pieces of the input; overlap DUPLICATES
    # content across chunk boundaries, so joined content is a superset
    strip_ws = lambda s: "".join(s.split())  # noqa: E731 — all unicode ws
    joined, orig = strip_ws("".join(chunks)), strip_ws(text)
    assert set(joined) == set(orig)
    assert len(joined) >= len(orig)
    assert all(c.strip() == c and c for c in chunks) or orig == ""


@given(TEXT)
@settings(max_examples=300, deadline=None)
def test_parsers_total_on_arbitrary_input(text):
    """Parsers must degrade to empty results, never raise (parser.py contract)."""
    ents, rels = parse_er(text)
    assert isinstance(ents, list) and isinstance(rels, list)
    assert isinstance(parse_alias(text), list)
    # parse_string_list raises ValueError on unbracketed input BY DESIGN
    # (reference parity, parser.py:14-40) — but never any other exception
    try:
        assert isinstance(parse_string_list(text), list)
    except ValueError:
        pass
    objs = scan_json_objects(text, ["name", "label"])
    for o in objs:
        assert o.get("name") is not None and o.get("label") is not None


@given(st.dictionaries(st.sampled_from(["name", "label", "description", "x"]),
                       st.text(min_size=1, max_size=20), min_size=1))
@settings(max_examples=200, deadline=None)
def test_json_scanner_field_filter(d):
    """E2 semantics: object kept iff all requested fields present & non-None."""
    import json

    blob = "prefix " + json.dumps(d) + " suffix"
    got = scan_json_objects(blob, ["name", "label"])
    has_nested = any("{" in v or "}" in v for v in d.values())
    if not has_nested:
        expect = 1 if ("name" in d and "label" in d) else 0
        assert len(got) == expect


@given(TEXT)
@settings(max_examples=100, deadline=None)
def test_fingerprint_normalization_idempotent(text):
    import re

    norm = re.sub(r"\s+", " ", text.lower()).strip()
    norm2 = re.sub(r"\s+", " ", norm.lower()).strip()
    assert norm == norm2


@given(
    st.lists(
        st.sets(st.sampled_from("abcdefghij"), min_size=1, max_size=8),
        min_size=2,
        max_size=8,
    ),
    st.sampled_from([0.3, 0.5, 0.7, 0.9]),
)
@settings(max_examples=300, deadline=None)
def test_prefix_filter_lemma_complete(sets, t):
    """Candidate completeness of operators/textdedup.prefix_jaccard_pairs:
    with ONE global (freq, token) order and per-set prefixes of length
    |S| - ceil(t*|S|) + 1, every pair with Jaccard >= t must (a) collide on
    a prefix token of BOTH sets and (b) survive the size-ratio prune —
    the two pruning rules the Spark operator applies before its exact
    verify join."""
    import math
    from collections import Counter

    eps = 1e-9
    freq = Counter(tok for s in sets for tok in s)
    order = lambda s: sorted(s, key=lambda w: (freq[w], w))  # noqa: E731

    def prefix(s):
        n = len(s)
        r = math.ceil(t * n - eps)
        return set(order(s)[: n - r + 1])

    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            a, b = sets[i], sets[j]
            inter = len(a & b)
            jac = inter / len(a | b)
            if jac >= t:
                assert prefix(a) & prefix(b), (a, b, t)
                assert len(b) >= t * len(a) - eps
                assert len(a) >= t * len(b) - eps


# --------------------------------------------------------- Misra-Gries

TOKENS = st.lists(
    st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
    min_size=1,
    max_size=300,
)


@given(TOKENS, st.integers(min_value=1, max_value=5), st.integers(min_value=1, max_value=8))
@settings(max_examples=200, deadline=None)
def test_merge_mg_superset_guarantee(tokens, k, n_chunks):
    """After folding an arbitrary stream through the mergeable-MG combine
    in arbitrary chunkings, every item with count > n/(k+1) survives in
    the summary, and the summary never exceeds k counters."""
    import pandas as pd

    from mmkg_rag_spark.functions.heavyhitters import _merge_mg

    summary: dict[str, int] = {}
    size = max(1, len(tokens) // n_chunks)
    for i in range(0, len(tokens), size):
        chunk = pd.Series(tokens[i : i + size]).value_counts()
        summary = _merge_mg(summary, chunk, k)
    assert len(summary) <= k
    n = len(tokens)
    from collections import Counter

    for term, cnt in Counter(tokens).items():
        if cnt * (k + 1) > n:
            assert term in summary, (term, cnt, n, k, summary)


# --------------------------------------------------------- BPE

WORD = st.text(alphabet="ab", min_size=0, max_size=12)


@given(st.lists(WORD, min_size=1, max_size=20), st.integers(min_value=1, max_value=10))
@settings(max_examples=150, deadline=None)
def test_bpe_encode_equals_rank_order_application(words, n_merges):
    """encode_word (lowest-rank-first) == applying the learned merges in
    rank order, for merges trained on the same corpus — the equivalence
    the SQL oracle's replace chain relies on, over adversarial
    two-letter words full of overlapping pair occurrences."""
    from mmkg_rag_spark.functions.bpe import (
        END,
        _apply_merge,
        _pair_counts,
        encode_word,
    )

    # train on the word multiset (pure-python replica of train_bpe's loop)
    from collections import Counter

    wc = Counter(w for w in words if w)
    table = {tuple(w) + (END,): c for w, c in wc.items()}
    merges = []
    for rank in range(1, n_merges + 1):
        pc = _pair_counts(table)
        if not pc:
            break
        (a, b), _cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b))
        table = {_apply_merge(s, (a, b)): c for s, c in table.items()}
    ranks = {(a, b): r for r, a, b in merges}
    for w in wc:
        syms = tuple(w) + (END,)
        for _r, a, b in merges:
            syms = _apply_merge(syms, (a, b))
        assert list(syms) == encode_word(w, ranks), (w, merges)
