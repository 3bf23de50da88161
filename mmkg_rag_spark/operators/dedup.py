"""Corpus-global canonicalization (the shuffle-heavy D-phase).

Replaces the reference's in-memory greedy loop (deduplicate.py:19-65) with
the scale path mandated by the north star: exact collapse → MinHash-LSH
blocking → exact similarity re-check → iterative connected components →
grouped deterministic merge → alias-dictionary broadcast remap join.

Stage map (SURVEY.md §2):
  1. exact collapse   — groupBy (name,label,description): 10^12 mentions
                        shrink to ~|distinct entities| with map-side partial
                        aggregation; carries mention multiplicity as weight.
  2. strings table    — explode name+aliases; norm = token-sorted UPPER
                        (so plain indel ratio(norm_a, norm_b) ≡ the
                        reference's token_sort_ratio(upper) — D1 predicate,
                        deduplicate.py:149-160).
  3. exact edges      — star edges within equal-norm groups (D2).
  4. fuzzy edges      — LSH candidate pairs over DISTINCT norms + pandas-UDF
                        ratio ≥ 95 re-check (D1), mapped back to unit ids.
  5. connected comps  — functions/components.py (order-independent closure
                        of the greedy grouping; SURVEY.md §7.3).
  6. merged entities  — groupBy(component).applyInPandas with the same
                        deterministic merge policy as the replica oracle
                        (kernels/canonicalize.py, weighted label vote).
  7. endpoint remap   — name→canonical mapping joined onto relation
                        source/target (AQE picks broadcast when the
                        dictionary is small; D4).
  8. relation merge   — groupBy(source,label,target) native agg ≡ the
                        deterministic relation merge (D6/D7).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.components import connected_components
from ..functions.minhash import char_shingles, lsh_candidate_pairs
from ..kernels.canonicalize import DEDUP_SIMILARITY, merge_entity_group
from ..kernels.records import Entity

MERGED_ENTITY_SCHEMA = (
    "component string, name string, label string, description string, "
    "aliases array<string>, references array<string>, chunks array<int>"
)

_SEP = "\x1f"
# distinct name norms up to this many take similarity_edges' driver pairwise
# pass (≤ ~45k ratio calls); above it, MinHash-LSH + the verify UDF (0 forces
# the LSH path)
PAIRWISE_THRESHOLD = 300


def _norm_expr(col):
    """Token-sorted uppercase normalization: ratio(norm, norm) ≡ token_sort_ratio."""
    toks = F.filter(F.split(F.upper(F.trim(col)), r"\s+"), lambda t: t != "")
    return F.array_join(F.array_sort(toks), " ")


def collapse_exact(entity_mentions: DataFrame) -> DataFrame:
    """Stage 1: mentions → units keyed by (name,label,description)."""
    return (
        entity_mentions.groupBy("name", "label", "description")
        .agg(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("aliases")))).alias("aliases"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("references")))).alias("references"),
            F.array_sort(F.collect_set("chunk_id")).alias("chunks"),
            F.count(F.lit(1)).alias("weight"),
        )
        .withColumn(
            "uid", F.md5(F.concat_ws(_SEP, "name", "label", "description"))
        )
    )


def similarity_edges(units: DataFrame) -> DataFrame:
    """Stages 2-4: uid pairs whose any-name/alias similarity ≥ DEDUP_SIMILARITY."""
    strings = units.select(
        "uid",
        F.explode(
            F.array_distinct(F.array_union(F.array("name"), F.coalesce("aliases", F.array())))
        ).alias("s"),
    ).withColumn("norm", _norm_expr(F.col("s"))).filter(F.col("norm") != "")

    # exact: all uids sharing a norm form a star around the min uid (D2)
    exact = (
        strings.groupBy("norm")
        .agg(F.collect_set("uid").alias("uids"))
        .filter(F.size("uids") > 1)
        .select(
            F.array_min("uids").alias("src"),
            F.explode("uids").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )

    # fuzzy: candidate pairs over DISTINCT norms + exact indel-ratio check (D1).
    # Adaptive physical strategy: the distinct-norm set is the *entity
    # vocabulary*, vastly smaller than the mention stream. When it fits a
    # driver-side pairwise pass (≤ PAIRWISE_THRESHOLD strings ⇒ ≤ ~45k ratio
    # calls) that beats the LSH machinery's ~6 fixed shuffle jobs; above it,
    # MinHash-LSH banding + a vectorized re-check UDF is the 10^12-row path.
    norms = strings.select("norm").distinct()
    # one bounded job decides the strategy AND fetches the data when small
    # (limit short-circuits; a count() would materialize the whole distinct)
    probe = norms.limit(PAIRWISE_THRESHOLD + 1).collect()
    if len(probe) <= PAIRWISE_THRESHOLD:
        import time as _time

        from ..kernels.similarity import ratio as _ratio_fn
        from ..metrics import record_pairs

        vals = sorted(r.norm for r in probe)
        _t0 = _time.perf_counter_ns()
        pairs = [
            (a, b)
            for i, a in enumerate(vals)
            for b in vals[i + 1 :]
            if _ratio_fn(a, b) >= DEDUP_SIMILARITY * 100.0
        ]
        record_pairs(
            "dedup_verify", len(vals) * (len(vals) - 1) // 2,
            _time.perf_counter_ns() - _t0,
        )
        verified = units.sparkSession.createDataFrame(
            pairs, "id_a string, id_b string"
        ) if pairs else units.sparkSession.createDataFrame([], "id_a string, id_b string")
        # driver-created and ≤ threshold² rows — broadcast so the two
        # norm→uid joins below are map-side (no exchange pair per join)
        verified = F.broadcast(verified)
    else:
        # b=16, r=8: S-curve center (1/16)^(1/8) ≈ 0.71 — at the 0.95
        # threshold recall ≈ 1−(1−0.95⁸)^16 ≈ 1-3e-8, while sub-0.5-similar
        # junk pairs collide ~50× less than the 32×4 banding would allow,
        # keeping the python ratio-verify volume ∝ true near-matches.
        cand = lsh_candidate_pairs(
            norms, "norm", char_shingles(F.col("norm"), 3), num_hashes=128, bands=16
        )

        from ..metrics import pair_accumulators

        _pairs_acc, _ns_acc = pair_accumulators(units.sparkSession, "dedup_verify")

        @F.pandas_udf("double")
        def _ratio(a: pd.Series, b: pd.Series) -> pd.Series:
            import time as _time

            from ..kernels.similarity import ratio

            t0 = _time.perf_counter_ns()
            out = pd.Series([ratio(x, y) for x, y in zip(a, b)], dtype="float64")
            _pairs_acc.add(len(a))
            _ns_acc.add(_time.perf_counter_ns() - t0)
            return out

        verified = (
            cand.withColumn("score", _ratio(F.col("id_a"), F.col("id_b")))
            .filter(F.col("score") >= DEDUP_SIMILARITY * 100.0)
            .select("id_a", "id_b")
        )
    norm_uid = strings.select("norm", "uid").distinct()
    fuzzy = (
        verified.join(norm_uid.withColumnRenamed("norm", "id_a").withColumnRenamed("uid", "src"), "id_a")
        .join(norm_uid.withColumnRenamed("norm", "id_b").withColumnRenamed("uid", "dst"), "id_b")
        .select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
    )
    return exact.unionByName(fuzzy).dropDuplicates(["src", "dst"])


def canonicalize_entities(entity_mentions: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Full D-phase for entities → (merged_entities, name→canonical mapping).

    ``PAIRWISE_THRESHOLD`` and ``components.COLLECT_THRESHOLD`` select the
    physical strategy for the similarity pass and the component computation
    (driver-side below, distributed above); the scale tests set them to 0
    to force the distributed path.
    """
    return canonicalize_units(collapse_exact(entity_mentions))


def nodes_as_units(nodes: DataFrame) -> DataFrame:
    """Stored canonical nodes → unit shape, for incremental re-canonicalize.

    D8 semantics (pipe.py:85-87): previously persisted entities re-enter the
    dedup pass alongside the new batch. weight=1 — a stored node is one unit
    regardless of how many mentions produced it (matches the reference,
    where stored entities are plain list elements).
    """
    return nodes.select(
        "name", "label", "description",
        F.coalesce("aliases", F.array()).alias("aliases"),
        F.coalesce("references", F.array()).alias("references"),
        F.coalesce("chunks", F.array().cast("array<int>")).alias("chunks"),
        F.lit(1).alias("weight"),
    ).withColumn("uid", F.md5(F.concat_ws(_SEP, "name", "label", "description")))


def merge_unit_tables(*unit_tables: DataFrame) -> DataFrame:
    """Union unit tables, re-collapsing units that share (name,label,desc)."""
    out = unit_tables[0]
    for t in unit_tables[1:]:
        out = out.unionByName(t)
    return (
        out.groupBy("uid", "name", "label", "description")
        .agg(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("aliases")))).alias("aliases"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("references")))).alias("references"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("chunks")))).alias("chunks"),
            F.sum("weight").alias("weight"),
        )
    )


def canonicalize_units(units: DataFrame) -> tuple[DataFrame, DataFrame]:
    """D-phase from pre-collapsed units (shared by batch + incremental paths)."""
    # units feeds three consumers (similarity edges, merge, mapping) and the
    # CC loop forces several actions — cache to avoid re-aggregating mentions.
    units = units.cache()
    edges = similarity_edges(units)
    cc_info: dict = {}
    comp = connected_components(edges, src="src", dst="dst", out_info=cc_info)
    # driver-path component tables are ≤ COLLECT_THRESHOLD rows by
    # construction — broadcast them so the units join is map-side (AQE could
    # only discover this after materializing both shuffle sides)
    comp_r = comp.withColumnRenamed("id", "uid")
    if cc_info.get("driver_path"):
        comp_r = F.broadcast(comp_r)
    units_c = units.join(comp_r, "uid", "left").withColumn(
        "component", F.coalesce("component", "uid")
    )

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        ents = [
            Entity(
                name=n, label=l, description=d,
                aliases=list(a), references=list(r), chunks=[int(c) for c in ch],
            )
            for n, l, d, a, r, ch in zip(
                pdf["name"], pdf["label"], pdf["description"],
                pdf["aliases"], pdf["references"], pdf["chunks"],
            )
        ]
        m = merge_entity_group(ents, weights=[int(w) for w in pdf["weight"]])
        return pd.DataFrame(
            [
                (
                    pdf["component"].iloc[0], m.name, m.label, m.description,
                    m.aliases or [], m.references or [], m.chunks or [],
                )
            ],
            columns=[
                "component", "name", "label", "description",
                "aliases", "references", "chunks",
            ],
        )

    merged = (
        units_c.select(
            "component", "name", "label", "description",
            "aliases", "references", "chunks", "weight",
        )
        .groupBy("component")
        .applyInPandas(_merge, schema=MERGED_ENTITY_SCHEMA)
    )
    merged = merged.cache()
    canon = merged.select(F.col("component"), F.col("name").alias("canonical"))
    if cc_info.get("driver_path"):
        # |merged with component| ≤ |CC vertices| ≤ COLLECT_THRESHOLD:
        # broadcast the 2-col canonical dictionary, skipping two exchanges
        canon = F.broadcast(canon)
    mapping = (
        units_c.select("component", F.col("name").alias("member"))
        .join(canon, "component")
        .filter(F.col("member") != F.col("canonical"))
        .select("member", "canonical")
        .distinct()
    )
    return merged.drop("component"), mapping


def edges_from_mentions(relation_mentions: DataFrame) -> DataFrame:
    """Mention-shaped relations (scalar chunk_id) → edge shape (chunks array)."""
    return relation_mentions.select(
        "source", "label", "target", "description",
        F.coalesce("references", F.array()).alias("references"),
        F.array("chunk_id").cast("array<int>").alias("chunks"),
    )


def remap_and_merge_edges(edges: DataFrame, mapping: DataFrame) -> DataFrame:
    """Stages 7-8 on edge-shaped rows: canonical endpoints, merged triples.

    The mapping join is the north star's alias-dictionary broadcast join —
    broadcast EXPLICITLY: the dictionary is the merged-away entity
    vocabulary, bounded and small relative to the mention stream at every
    scale, and relying on AQE instead costs the full exchange pair per join
    before the runtime conversion can happen.
    """
    mapping = F.broadcast(mapping)
    src_map = mapping.select(
        F.col("member").alias("source"), F.col("canonical").alias("_src_c")
    )
    dst_map = mapping.select(
        F.col("member").alias("target"), F.col("canonical").alias("_dst_c")
    )
    remapped = (
        edges.join(src_map, "source", "left")
        .join(dst_map, "target", "left")
        .select(
            F.coalesce("_src_c", "source").alias("source"),
            "label",
            F.coalesce("_dst_c", "target").alias("target"),
            "description",
            "references",
            "chunks",
        )
    )
    return (
        remapped.groupBy("source", "label", "target")
        .agg(
            F.min("description").alias("description"),
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("references")))
            ).alias("references"),
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("chunks")))
            ).alias("chunks"),
        )
    )


def remap_and_merge_relations(
    relation_mentions: DataFrame, mapping: DataFrame
) -> DataFrame:
    """Back-compat wrapper: mention-shaped input → remap_and_merge_edges."""
    return remap_and_merge_edges(edges_from_mentions(relation_mentions), mapping)
