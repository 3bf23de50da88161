"""Incremental indexing: merge a new batch with the stored graph (D8).

Reference semantics (pipe.py:85-87): before canonicalization, the new
extraction batch is unioned with previously persisted entities/relations and
the whole set re-canonicalizes — previously distinct entities can merge when
a new mention bridges them, and stored relation endpoints are rewritten to
the updated canonical names.

Spark shape: stored nodes re-enter as units (weight 1) alongside the new
batch's collapsed mentions; stored edges union with the new batch's edges
and both flow through the same alias-dictionary remap + triple merge. Every
step is the same code path as the full build — incremental is a *data*
variant, not a second engine. Combined with the snapshot catalog (run.py),
this gives indexed-corpus growth without full recompute: per batch, work is
O(batch + |graph|), never O(corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .dedup import (
    canonicalize_units,
    collapse_exact,
    edges_from_mentions,
    merge_unit_tables,
    nodes_as_units,
    remap_and_merge_edges,
)


def incremental_canonicalize(
    new_entity_mentions: DataFrame,
    new_relation_mentions: DataFrame,
    prior_nodes: DataFrame | None = None,
    prior_edges: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Re-canonicalize (stored graph ∪ new batch) → (nodes, mapping, edges).

    ``mapping`` covers members of *both* stored and new entities, so stored
    edges are remapped too (a stored canonical name may itself merge away).
    """
    units = collapse_exact(new_entity_mentions)
    if prior_nodes is not None:
        units = merge_unit_tables(units, nodes_as_units(prior_nodes))
    nodes, mapping = canonicalize_units(units)

    edges = edges_from_mentions(new_relation_mentions)
    if prior_edges is not None:
        edges = edges.unionByName(
            prior_edges.select(
                "source", "label", "target", "description", "references", "chunks"
            )
        )
    merged_edges = remap_and_merge_edges(edges, mapping)
    return nodes, mapping, merged_edges
