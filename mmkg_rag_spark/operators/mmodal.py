"""Multimodal linking phase (SURVEY.md §2 M1-M5).

image instances (M1 regex + sentence-trimmed context, scanned inside
operators/extract.extract_page_artifacts) → M2 suffix/manifest filters →
VLM description (M3, mock) → entity relevance scoring (M4) with top-8 per
image → link decisions (M5) emitted as ``#image``-labelled edges.

Scale design:
- M1/M3 are map-only pandas stages.
- The M4 scoring join offers two physical strategies:
  * ``broadcast``: images ⨯ broadcast(entities) — right when the canonical
    entity table fits in executor memory (the reference's semantics are a
    full cross product: every image is scored against every entity,
    mmodal.py:57-71).
  * ``blocked``: token-overlap candidate join — entities and images explode
    to (token, id) with a SALT column on the skewed token side (head
    entities/stopword captions), join on token, dedupe pairs, then score.
    This is the 100 TB path: candidate count ∝ shared-token pairs, not |I|·|E|.
  ``score_image_entities`` picks broadcast under the size bounds below,
  else blocked.
- Top-8 via Window(partitionBy image instance, orderBy score desc, name) —
  the deterministic tie rule shared with the replica oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..kernels.mockllm import LINK_MIN_SCORE, describe_image_response
from ..kernels.parsers import parse_image_description
from ..kernels.similarity import image_entity_relevance
from ..kernels.textops import VALID_IMAGE_SUFFIXES

IMAGE_CANDIDATE_CAP = 8  # mmodal.py:69-71
IMAGE_MIN_RELEVANCE = 0.1  # mmodal.py:223
# score_image_entities' strategy switches: entity rows that can still
# broadcast, and scored (image × entity) pairs the cross product may cost
# (−1 forces the blocked path)
BROADCAST_LIMIT = 2_000_000
PAIR_LIMIT = 500_000
# sub-keys per image token on the blocked path's salted join
SALT_BUCKETS = 16


def filter_valid_images(instances: DataFrame, manifest: DataFrame) -> DataFrame:
    """M2: suffix whitelist + existence semi-join against the asset manifest."""
    suffix = F.lower(F.regexp_extract(F.col("path"), r"\.([^.]+)$", 1))
    return instances.filter(suffix.isin(*VALID_IMAGE_SUFFIXES)).join(
        F.broadcast(manifest.select("path")), "path", "semi"
    )


def describe_images(instances: DataFrame) -> DataFrame:
    """M3: mock-VLM description → (url, path, context, caption, texts, description)."""

    @F.pandas_udf(
        "struct<caption:string, texts:array<string>, description:string>"
    )
    def _describe(path: pd.Series, context: pd.Series) -> pd.DataFrame:
        caps, txts, descs = [], [], []
        for p, c in zip(path, context):
            caption, texts, description = parse_image_description(
                describe_image_response(p, c)
            )
            caps.append(caption)
            txts.append(texts or [])
            descs.append(description)
        return pd.DataFrame({"caption": caps, "texts": txts, "description": descs})

    return instances.withColumn(
        "img", _describe(F.col("path"), F.col("context"))
    ).select("url", "path", "context", "img.caption", "img.texts", "img.description")


def _relevance_udf(spark=None):
    # throughput accounting (metrics.similarity_throughput): each scored
    # (image, entity) candidate is one "pair"; the accumulators tick once
    # per Arrow batch — no behavior change
    accs = None
    if spark is not None:
        from ..metrics import pair_accumulators

        accs = pair_accumulators(spark, "mmodal_relevance")

    @F.pandas_udf("double")
    def _relevance(
        terms: pd.Series, caption: pd.Series, texts: pd.Series
    ) -> pd.Series:
        import time as _time

        t0 = _time.perf_counter_ns()
        out = pd.Series(
            [
                image_entity_relevance(list(t), c, list(x))
                for t, c, x in zip(terms, caption, texts)
            ],
            dtype="float64",
        )
        if accs is not None:
            accs[0].add(len(terms))
            accs[1].add(_time.perf_counter_ns() - t0)
        return out

    return _relevance


def _entity_terms(entities: DataFrame) -> DataFrame:
    return entities.select(
        F.col("name").alias("entity"),
        F.array_union(F.array("name"), F.coalesce("aliases", F.array())).alias("terms"),
    )


def score_image_entities(images: DataFrame, entities: DataFrame) -> DataFrame:
    """M4: relevance-scored (image instance × entity) pairs ≥ 0.1, top-8/image.

    The strategy is picked on BOTH axes: blocked when the entity table can't
    broadcast, AND when the cross-product |images|·|entities| would push
    more than ``PAIR_LIMIT`` pairs through the relevance UDF — the UDF is
    the cost, not the join, so a broadcastable entity table can still lose
    to token blocking by orders of magnitude in scored pairs. Blocking is
    the documented scale approximation (not exact): char-level indel
    similarity can lift token-disjoint pairs to ~0.3-0.45, and those are
    pruned; every ≥0.5 pair survives (tests/test_mmodal_strategies.py).
    Below both bounds the broadcast cross product gives reference-exact
    semantics.
    """
    ents = _entity_terms(entities)
    imgs = images.filter(
        (F.coalesce(F.size("texts"), F.lit(0)) > 0) | (F.col("caption") != "")
    )

    n = ents.limit(BROADCAST_LIMIT + 1).count()
    if n <= BROADCAST_LIMIT and n * imgs.count() <= PAIR_LIMIT:
        pairs = imgs.crossJoin(F.broadcast(ents))
    else:
        # token-overlap blocking with salt on the (skewed) image-token side:
        # every (token) key is split into SALT_BUCKETS sub-keys; the entity
        # side is replicated per bucket — classic salted join (north star).
        tok = lambda c: F.filter(  # noqa: E731
            F.split(F.upper(c), r"[^0-9A-ZÀ-ÖØ-Þ]+"), lambda t: t != ""
        )
        img_tokens = imgs.select(
            "url", "path", "context",
            F.explode(
                F.array_distinct(
                    F.array_union(
                        tok(F.col("caption")),
                        F.flatten(F.transform(F.coalesce("texts", F.array()), tok)),
                    )
                )
            ).alias("token"),
        ).withColumn("salt", F.pmod(F.xxhash64("url", "path"), F.lit(SALT_BUCKETS)))
        ent_tokens = (
            ents.select("entity", F.explode(F.array_distinct(F.flatten(F.transform("terms", tok)))).alias("token"))
            # light side replicated ×SALT_BUCKETS (classic salted-join shape)
            .withColumn(
                "salt",
                F.explode(F.array(*[F.lit(i) for i in range(SALT_BUCKETS)])),
            )
            .select("entity", "token", F.col("salt").cast("bigint"))
        )
        cand = (
            img_tokens.join(ent_tokens, ["token", "salt"])
            .select("url", "path", "context", "entity")
            .dropDuplicates(["url", "path", "context", "entity"])
        )
        pairs = cand.join(imgs, ["url", "path", "context"]).join(ents, "entity")

    scored = pairs.withColumn(
        "score",
        _relevance_udf(images.sparkSession)(
            F.col("terms"), F.col("caption"), F.col("texts")
        ),
    ).filter(F.col("score") >= IMAGE_MIN_RELEVANCE)

    w = Window.partitionBy("url", "path", "context").orderBy(
        F.desc("score"), F.asc("entity")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= IMAGE_CANDIDATE_CAP)
        .select("url", "path", "context", "caption", "entity", "score", "rank")
    )


def link_images(top_candidates: DataFrame) -> DataFrame:
    """M5: link decisions → image edges (source=entity, target=path).

    Mock link policy (kernels/mockllm.py link_response): accept score ≥ 0.3,
    label 'depicts' → edge label '#imagedepicts' (mmodal.py:291-301 shape).
    Identical triples from different docs collapse with reference union —
    the P/R comparison is set-based either way.
    """
    accepted = top_candidates.filter(F.col("score") >= F.lit(LINK_MIN_SCORE))
    return (
        accepted.select(
            F.col("entity").alias("source"),
            F.lit("#imagedepicts").alias("label"),
            F.col("path").alias("target"),
            F.concat(F.col("entity"), F.lit(" appears in "), F.col("path")).alias("description"),
            F.when(F.col("caption") != "", F.array("caption")).otherwise(F.array().cast("array<string>")).alias("references"),
        )
        .groupBy("source", "label", "target")
        .agg(
            F.min("description").alias("description"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("references")))).alias("references"),
        )
    )


def images_table(described: DataFrame) -> DataFrame:
    """Final images dimension: one row per path (min-context instance wins)."""
    w = Window.partitionBy("path").orderBy("url", "context")
    return (
        described.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("path", "caption", "description", "texts")
    )
