"""Grouping + deterministic merge kernels for canonicalization.

Greedy grouping replicates the reference (``group_by_name_alias_v2``
deduplicate.py:141-175, ``group_relations`` deduplicate.py:225-262) and powers
the reference-replica oracle. The Spark engine computes the order-independent
transitive closure of the same pair predicate via LSH + connected components
(operators/dedup.py); at the reference threshold 0.95 they coincide on all but
adversarial chains (see SURVEY.md §7.3) and the P/R gate measures any gap.

The reference merges groups with an LLM (deduplicate.py:68-99,102-138). Both
our engine and the replica substitute the same *deterministic* merge policy so
their outputs are comparable:
  - canonical name  = longest member name (tie → lexicographically smallest),
    mirroring the reference's longest-name promotion rule (text.py:43)
  - label           = most frequent (tie → lexicographically smallest)
  - description     = sorted distinct descriptions joined with DESC_SEP (a
    sentinel that cannot occur in source text, so re-splitting on merge is
    lossless even when a description legitimately contains " | ")
  - aliases         = sorted distinct union of all names+aliases minus canonical
  - references      = sorted distinct union
  - chunks          = sorted distinct union
"""

from __future__ import annotations

from collections import Counter

from .records import Entity, Relation
from .similarity import pair_similarity
from .textops import relation_pair_key

DEDUP_SIMILARITY = 0.95  # deduplicate.py:25

# Collision-proof separator for merged descriptions (ADVICE r1): U+241F
# (SYMBOL FOR UNIT SEPARATOR) never occurs in real web text, unlike " | ",
# which would split source descriptions containing pipes. Kept printable so
# a stored description stays human-readable.
DESC_SEP = " ␟ "


def _split_description(description: str) -> list[str]:
    """Split a stored description into its merge atoms."""
    return description.split(DESC_SEP)


def entities_match(e1: Entity, e2: Entity, similarity: float = DEDUP_SIMILARITY) -> bool:
    """Any name/alias cross-pair ≥ similarity (deduplicate.py:153-160)."""
    strs1 = [e1.name] + (e1.aliases or [])
    strs2 = [e2.name] + (e2.aliases or [])
    return any(
        pair_similarity(s1, s2) >= similarity for s1 in strs1 for s2 in strs2
    )


def group_entities_greedy(
    entities: list[Entity], similarity: float = DEDUP_SIMILARITY
) -> list[list[Entity]]:
    """Greedy first-match grouping (deduplicate.py:141-175) — order-dependent."""
    groups: list[list[Entity]] = []
    for entity in entities:
        for group in groups:
            if any(entities_match(entity, e, similarity) for e in group):
                group.append(entity)
                break
        else:
            groups.append([entity])
    return groups


def group_relations(relations: list[Relation]) -> list[list[Relation]]:
    """Group by unordered uppercase endpoint pair (deduplicate.py:225-262)."""
    by_key: dict[tuple[str, str], list[Relation]] = {}
    order: list[tuple[str, str]] = []
    for r in relations:
        key = relation_pair_key(r.source, r.target)
        if key not in by_key:
            by_key[key] = []
            order.append(key)
        by_key[key].append(r)
    return [by_key[k] for k in order]


def _canonical_name(names: list[str]) -> str:
    return max(sorted(set(names)), key=len)  # longest; ties → lexicographic min


def merge_entity_group(group: list[Entity], weights: list[int] | None = None) -> Entity:
    """Deterministic entity merge (stand-in for the LLM merge, see module doc).

    ``weights`` lets callers that pre-collapsed exact-duplicate mentions
    (operators/dedup.py stage 1) vote for the majority label with the
    original mention multiplicity, keeping engine and replica byte-identical.
    """
    if len(group) == 1:
        e = group[0]
        return Entity(
            name=e.name,
            label=e.label,
            description=e.description,
            aliases=sorted(set(e.aliases or [])),
            references=sorted(set(e.references or [])),
            chunks=sorted(set(e.chunks or [])),
        )
    all_names = [e.name for e in group]
    name = _canonical_name(all_names)
    if weights is None:
        weights = [1] * len(group)
    label_counts: Counter = Counter()
    for e, w in zip(group, weights):
        label_counts[e.label] += w
    top = max(label_counts.values())
    label = min(l for l, c in label_counts.items() if c == top)
    # split previously-merged composites back into pieces before the distinct
    # sort — makes the merge idempotent/associative, so incremental
    # re-canonicalization (operators/incremental.py) equals a full rebuild
    descriptions = sorted(
        {p for e in group if e.description for p in _split_description(e.description) if p}
    )
    aliases = sorted(
        {a for e in group for a in ([e.name] + (e.aliases or []))} - {name}
    )
    references = sorted({r for e in group for r in (e.references or [])})
    chunks = sorted({c for e in group for c in (e.chunks or [])})
    return Entity(
        name=name,
        label=label,
        description=DESC_SEP.join(descriptions),
        aliases=aliases,
        references=references,
        chunks=chunks,
    )


def merge_relation_group(group: list[Relation]) -> list[Relation]:
    """Deterministic relation merge: collapse identical (source,label,target).

    Stand-in for the LLM relation merge (deduplicate.py:102-138): rows sharing
    the exact triple merge (distinct-union references/chunks, shortest
    description); distinct predicates between the same endpoints survive.
    Output ordered by (source, label, target) for stability.
    """
    by_triple: dict[tuple[str, str, str], list[Relation]] = {}
    for r in group:
        by_triple.setdefault((r.source, r.label, r.target), []).append(r)
    merged = []
    for (source, label, target), rows in sorted(by_triple.items()):
        descriptions = sorted({r.description for r in rows if r.description})
        merged.append(
            Relation(
                source=source,
                label=label,
                target=target,
                description=descriptions[0] if descriptions else None,
                references=sorted({ref for r in rows for ref in (r.references or [])}),
                chunks=sorted({c for r in rows for c in (r.chunks or [])}),
            )
        )
    return merged


def deduplicate_sync(
    entities: list[Entity], relations: list[Relation],
    similarity: float = DEDUP_SIMILARITY,
) -> tuple[list[Entity], list[Relation]]:
    """Reference-replica ``deduplicate`` (deduplicate.py:19-65), LLM-free.

    Greedy-group entities, deterministically merge each group, rewrite relation
    endpoints to the merged names (deduplicate.py:36-41), backfill aliases to
    [] (deduplicate.py:43-46), then group + merge relations.
    """
    new_entities: list[Entity] = []
    relations = [
        Relation(
            source=r.source, target=r.target, label=r.label,
            references=list(r.references or []), images=r.images,
            chunks=list(r.chunks or []), description=r.description,
        )
        for r in relations
    ]
    for group in group_entities_greedy(entities, similarity):
        if len(group) == 1:
            new_entities.extend(group)
            continue
        merged = merge_entity_group(group)
        new_entities.append(merged)
        group_names = {e.name for e in group}
        for r in relations:
            if r.source in group_names:
                r.source = merged.name
            if r.target in group_names:
                r.target = merged.name
    for e in new_entities:
        if not e.aliases:
            e.aliases = []
    new_relations = [
        m for g in group_relations(relations) for m in merge_relation_group(g)
    ]
    return new_entities, new_relations
