"""Both physical strategies of the D-phase must agree.

The adaptive thresholds (operators/dedup.py, functions/components.py) pick
driver-side union-find / pairwise similarity below a size cutoff and the
distributed MinHash-LSH + iterative min-label loop above it. Forcing each
path on the same input must yield identical canonical entities and mapping.
"""

from __future__ import annotations

import pytest

from mmkg_rag_spark.functions import components
from mmkg_rag_spark.functions.components import (
    connected_components,
    union_find_local,
)
from mmkg_rag_spark.operators import dedup
from mmkg_rag_spark.operators.dedup import canonicalize_entities


@pytest.fixture(scope="module")
def spark():
    from mmkg_rag_spark.session import get_spark

    yield get_spark(master="local[4]", shuffle_partitions=8, app_name="pytest-ded")


MENTIONS = [
    # (url, chunk_id, name, label, description, aliases, references)
    ("u1", 1, "Ada Lovelace", "PERSON", "pioneer", ["Ada"], ["r1"]),
    ("u2", 1, "Lovelace Ada", "PERSON", "computing pioneer", [], ["r2"]),
    ("u3", 1, "ADA LOVELACE", "PERSON", "pioneer", [], []),
    ("u4", 1, "Grace Hopper", "PERSON", "compilers", ["Grace"], []),
    ("u5", 1, "Acme Systems", "ORG", "vendor", [], []),
]
SCHEMA = (
    "url string, chunk_id int, name string, label string, description string, "
    "aliases array<string>, references array<string>"
)


@pytest.fixture(scope="module")
def mentions(spark):
    return spark.createDataFrame(MENTIONS, SCHEMA)


def _result_sets(nodes, mapping):
    n = {(r.name, r.label, tuple(sorted(r.aliases or []))) for r in nodes.collect()}
    m = {(r.member, r.canonical) for r in mapping.collect()}
    return n, m


def test_small_and_distributed_paths_agree(mentions, monkeypatch):
    fast = canonicalize_entities(mentions)
    monkeypatch.setattr(dedup, "PAIRWISE_THRESHOLD", 0)
    monkeypatch.setattr(components, "COLLECT_THRESHOLD", 0)
    slow = canonicalize_entities(mentions)
    assert _result_sets(*fast) == _result_sets(*slow)
    names = {r.name for r in fast[0].collect()}
    # token-sorted fuzzy match merges 'Ada Lovelace'/'Lovelace Ada'/'ADA LOVELACE'
    assert len(names) == 3 and "Grace Hopper" in names and "Acme Systems" in names


def test_connected_components_both_paths(spark, monkeypatch):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")],
        "src string, dst string",
    )
    for thr in (0, 10**6):
        monkeypatch.setattr(components, "COLLECT_THRESHOLD", thr)
        comp = {(r.id, r.component) for r in connected_components(edges).collect()}
        assert {("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d"), ("f", "f")} == comp


def test_union_find_local_transitive():
    comp = union_find_local([(3, 1), (1, 2), (9, 8), (5, 5)])
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[8] == comp[9] == 8
    assert comp[5] == 5


def test_distributed_lsh_path_at_scale(spark):
    """The distributed MinHash-LSH + ratio-verify + CC path on 6k mentions.

    1,500 planted clusters × 4 surface variants (exact, token-scrambled,
    uppercase, alias-carrying). Cluster names differ by whole words, so
    inter-cluster token-sort similarity sits below the 0.95 threshold —
    except the occasional legitimately-similar combo pair, hence the ±2
    tolerance (the reference's greedy grouping merges those too).
    Norm count (≈3k) exceeds the pairwise threshold → this exercises the
    REAL scale path: LSH banding, candidate verify UDF, star+fuzzy edges.
    """
    import pandas as pd

    W1 = ["Alpha", "Borealis", "Cascade", "Delphinium", "Everest", "Fjord",
          "Granite", "Horizon", "Iridium", "Juniper", "Krypton", "Lattice",
          "Meridian", "Nebula", "Obsidian", "Pinnacle"]
    W2 = ["Systems", "Dynamics", "Research", "Industries", "Networks",
          "Analytics", "Laboratories", "Holdings", "Partners", "Collective"]
    W3 = ["North", "Pacific", "Eastern", "Global", "Mountain", "Riverside",
          "Coastal", "Urban", "Arctic", "Equatorial"]
    n_clusters = 1500

    def base_name(c):
        return f"{W1[c % 16]} {W2[(c // 16) % 10]} {W3[(c // 160) % 10]}"

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                c, v = i % n_clusters, i // n_clusters
                base = base_name(c)
                if v == 0:
                    name, aliases = base, []
                elif v == 1:
                    name, aliases = " ".join(base.split()[::-1]), []
                elif v == 2:
                    name, aliases = base.upper(), []
                else:
                    name, aliases = base, ["".join(w[0] for w in base.split()) + str(c)]
                rows.append(("u", 1, name, "ORG", f"org cluster {c}", aliases, []))
            yield pd.DataFrame(
                rows,
                columns=["url", "chunk_id", "name", "label", "description",
                         "aliases", "references"],
            )

    mentions = spark.range(4 * n_clusters).mapInPandas(gen, SCHEMA)
    nodes, mapping = canonicalize_entities(mentions)
    n = nodes.count()
    assert n_clusters - 2 <= n <= n_clusters
    # every cluster contributed its scrambled + uppercase surfaces to mapping
    assert mapping.count() >= 2 * (n_clusters - 2)
