"""M4 physical strategies: salted token-blocked join vs broadcast cross.

The blocked path prunes (image × entity) candidates to token-sharing pairs
with a salt on the skewed side (north-star skew handling). It is an
*approximation*: char-level indel similarity lets token-disjoint pairs reach
~0.3-0.45 relevance, and those are pruned. The invariants that must hold
(cap disabled so top-8 slot effects don't confound):
  1. blocked scored-pairs ⊆ broadcast scored-pairs (same scores where kept)
  2. every high-confidence pair (≥ 0.5, i.e. real caption↔entity matches)
     survives blocking — the links that matter are never lost.
"""

from __future__ import annotations

import pytest

from mmkg_rag_spark.operators import mmodal
from mmkg_rag_spark.operators.dedup import canonicalize_entities
from mmkg_rag_spark.operators.extract import (
    extract_page_artifacts,
    split_image_instances,
    split_mentions,
)
from mmkg_rag_spark.operators.mmodal import (
    describe_images,
    filter_valid_images,
    link_images,
    score_image_entities,
)
from mmkg_rag_spark.sources.pages import gen_pages_df, image_manifest


@pytest.fixture(scope="module")
def spark():
    from mmkg_rag_spark.session import get_spark

    yield get_spark(master="local[4]", shuffle_partitions=8, app_name="pytest-mst")


def test_blocked_equals_broadcast_on_accepted_links(spark, monkeypatch):
    pages = gen_pages_df(spark, 60).select("url", "text")
    manifest = spark.createDataFrame([(p,) for p in image_manifest()], "path string")
    art = extract_page_artifacts(pages, use_html=False).cache()
    em, _ = split_mentions(art)
    nodes, _ = canonicalize_entities(em)
    nodes = nodes.cache()
    described = describe_images(
        filter_valid_images(split_image_instances(art), manifest)
    ).cache()

    cap = mmodal.IMAGE_CANDIDATE_CAP
    monkeypatch.setattr(mmodal, "SALT_BUCKETS", 4)
    monkeypatch.setattr(mmodal, "IMAGE_CANDIDATE_CAP", 10**6)
    pairs = {}
    # PAIR_LIMIT −1 forces the blocked path, an unreachable one broadcast
    for strategy, pair_limit in (("broadcast", 10**12), ("blocked", -1)):
        monkeypatch.setattr(mmodal, "PAIR_LIMIT", pair_limit)
        top = score_image_entities(described, nodes)
        pairs[strategy] = {
            (r.url, r.path, r.entity, r.score) for r in top.collect()
        }
    assert pairs["blocked"] <= pairs["broadcast"]
    high_conf = {p for p in pairs["broadcast"] if p[3] >= 0.5}
    assert high_conf and high_conf <= pairs["blocked"]
    # and the capped blocked path still produces links
    monkeypatch.setattr(mmodal, "IMAGE_CANDIDATE_CAP", cap)
    capped = link_images(score_image_entities(described, nodes))
    assert capped.count() > 0
