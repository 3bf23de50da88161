"""Map-side extraction: pages → E / R / I artifact rows in one pass.

Pipeline position (SURVEY.md §3.1 steps 2-4 and M1): shuffle-free
``mapInPandas`` over the pages scan, so it scales linearly with input
partitions and stays inside one stage.

- ``extract_page_artifacts``: the one pass ``build_kg``, the fold
  (``streaming.process_pages_batch``) and the staged runner (``run.py``)
  extract through — html→text (byte-identical per url, reference
  pipe.py:35-36), markdown-aware chunking with 1-based ids (reference
  split_text, pipe.py:23-44), per-chunk ER extraction + alias promotion +
  reference completion (reference text.py:63-198) and the image-instance
  scan, emitted as one union table.
- ``chunk_pages`` / ``extract_mentions``: the same chunking and the same
  per-chunk extraction as two stages, for callers that want the chunk
  table itself.
- ``split_mentions`` / ``split_image_instances``: the E/R and I views.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.chunker import split_markdown
from ..kernels.parsers import parse_er
from ..kernels.records import Chunk
from ..kernels.refpipeline import extract_chunk_from_responses
from ..kernels.textops import extract_images_with_context
from ..llm import INDEX_PROMPT, LOOP_PROMPT, MockExtractor
from ..sources.pages import html_to_text

CHUNK_SCHEMA = "url string, chunk_id int, text string"

MENTION_SCHEMA = (
    "kind string, url string, chunk_id int, name string, label string, "
    "description string, target string, aliases array<string>, "
    "references array<string>"
)

MENTION_COLS = [
    "kind", "url", "chunk_id", "name", "label", "description",
    "target", "aliases", "references",
]


def chunk_pages(
    pages: DataFrame, chunk_size: int = 8000, overlap: int = 400
) -> DataFrame:
    """pages(url, text, …) → chunks(url, chunk_id, text); map-only."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, ids, texts = [], [], []
            for url, text in zip(pdf["url"], pdf["text"]):
                for i, c in enumerate(split_markdown(text, chunk_size, overlap)):
                    urls.append(url)
                    ids.append(i + 1)  # 1-based (pipe.py:40-43)
                    texts.append(c)
            yield pd.DataFrame({"url": urls, "chunk_id": ids, "text": texts})

    return pages.select("url", "text").mapInPandas(gen, schema=CHUNK_SCHEMA)


def _extract_chunks(chunks: list[Chunk], extractor, loop: int) -> list[tuple]:
    """Per-chunk (entities, relations) for one Arrow batch of chunks.

    Every model call (index, gleaning rounds, continuation, alias) is
    batched over the whole list.
    """
    texts = [c.text for c in chunks]
    index_texts = extractor.index(texts)
    responses: list[list[str]] = [[ix] for ix in index_texts]
    if loop > 1:
        histories = [
            [
                {"role": "user", "content": INDEX_PROMPT + t},
                {"role": "assistant", "content": ix},
            ]
            for t, ix in zip(texts, index_texts)
        ]
        active = list(range(len(chunks)))
        for _ in range(loop - 1):
            if not active:
                break
            gleaned = extractor.glean([histories[i] for i in active])
            for i, g in zip(active, gleaned):
                responses[i].append(g)
                histories[i].extend(
                    [
                        {"role": "user", "content": LOOP_PROMPT},
                        {"role": "assistant", "content": g},
                    ]
                )
            cont = extractor.should_continue([histories[i] for i in active])
            # reference text.py:129: break when "NO" in answer
            active = [i for i, c in zip(active, cont) if "NO" not in c.upper()]
    names = [[e.name for resp in rs for e in parse_er(resp)[0]] for rs in responses]
    alias_texts = extractor.alias(texts, names)
    return [
        extract_chunk_from_responses(c, rs, al)
        for c, rs, al in zip(chunks, responses, alias_texts)
    ]


def _er_rows(urls, chunks: list[Chunk], results: list[tuple]) -> list[tuple]:
    """Provenance-tagged 'E' / 'R' rows (MENTION_COLS order)."""
    rows: list[tuple] = []
    for url, c, (ents, rels) in zip(urls, chunks, results):
        for e in ents:
            rows.append((
                "E", url, c.id, e.name, e.label, e.description,
                None, e.aliases or [], e.references or [],
            ))
        for r in rels:
            rows.append((
                "R", url, c.id, r.source, r.label, r.description,
                r.target, None, r.references or [],
            ))
    return rows


def extract_mentions(
    chunks: DataFrame, extractor_factory=MockExtractor, loop: int = 1
) -> DataFrame:
    """chunks → union mention table (kind 'E' | 'R'); map-only, one model pass.

    Mirrors extract_er_from_chunk + find_alias + complete_reference
    (text.py:63-198): each chunk's entity/relation mentions are emitted with
    provenance (url, chunk_id). Alias promotion and endpoint remap happen
    chunk-locally here; corpus-global canonicalization is operators/dedup.py.

    ``extractor_factory``: picklable zero-arg callable building an
    ``mmkg_rag_spark.llm`` Extractor per python worker (e.g.
    ``lambda: EndpointExtractor(base_url=..., ...)``). The default is the
    deterministic mock model (hermetic, fastest).

    ``loop``: gleaning rounds (reference text.py:97-130, default 1 = none).
    Each extra round re-prompts with the conversation history, extends the
    findings with the additions, then asks the YES/NO continuation question
    — a chunk whose answer contains NO drops out of later rounds. Stays
    map-side: the loop runs per python worker inside this one stage.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        extractor = extractor_factory()
        for pdf in batches:
            chunk_objs = [
                Chunk(id=int(cid), text=t)
                for cid, t in zip(pdf["chunk_id"], pdf["text"])
            ]
            results = _extract_chunks(chunk_objs, extractor, loop)
            yield pd.DataFrame(
                _er_rows(pdf["url"], chunk_objs, results), columns=MENTION_COLS
            )

    return chunks.mapInPandas(gen, schema=MENTION_SCHEMA)


def split_mentions(mentions: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Union mention table → (entity_mentions, relation_mentions) views."""
    entity_mentions = mentions.filter(F.col("kind") == "E").select(
        "url", "chunk_id", "name", "label", "description", "aliases", "references"
    )
    relation_mentions = mentions.filter(F.col("kind") == "R").select(
        "url", "chunk_id",
        F.col("name").alias("source"), "label", "target",
        "description", "references",
    )
    return entity_mentions, relation_mentions


def extract_page_artifacts(
    pages: DataFrame,
    chunk_size: int = 8000,
    overlap: int = 400,
    *,
    use_html: bool = True,
    extractor_factory=MockExtractor,
    loop: int = 1,
) -> DataFrame:
    """S2+S3+E1+M1 in ONE ``mapInPandas`` pass: html→text (``use_html``;
    else the ``text`` column is read as is), chunking, mention extraction
    and the image-instance scan.

    Per Arrow batch of pages, every page is chunked and the batch's chunks
    go through the same per-chunk extraction as ``extract_mentions`` —
    ``extractor_factory`` / ``loop`` have its contract, so a remote model
    gets its calls batched over all chunks of the batch. The page payload
    crosses the JVM↔Python Arrow boundary once and only the artifact rows
    — orders of magnitude smaller — return; chaining ``chunk_pages`` into
    ``extract_mentions`` instead sends the chunk text out and back in.
    tests/test_spark_pipeline.py pins the E/R rows equal to that chain and
    the I rows equal to the per-page image scan.

    Output: the union MENTION_SCHEMA with a third kind — 'I' rows carry
    image instances as (name=path, description=context) with chunk_id 0.
    ``split_mentions`` reads E/R; ``split_image_instances`` recovers the
    (url, path, context) table M2 filters.
    """
    src_col = "html" if use_html else "text"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        extractor = extractor_factory()
        for pdf in batches:
            rows: list[tuple] = []
            urls: list[str] = []
            chunk_objs: list[Chunk] = []
            for url, payload in zip(pdf["url"], pdf[src_col]):
                text = html_to_text(payload) if use_html else payload
                for path, ctx in extract_images_with_context(text):
                    rows.append(("I", url, 0, path, None, ctx, None, None, None))
                for i, ck in enumerate(split_markdown(text, chunk_size, overlap)):
                    urls.append(url)
                    chunk_objs.append(Chunk(id=i + 1, text=ck))
            results = _extract_chunks(chunk_objs, extractor, loop)
            rows.extend(_er_rows(urls, chunk_objs, results))
            yield pd.DataFrame(rows, columns=MENTION_COLS)

    cols = [pages["url"], pages[src_col]]
    return pages.select(*cols).mapInPandas(gen, schema=MENTION_SCHEMA)


def split_image_instances(artifacts: DataFrame) -> DataFrame:
    """kind 'I' artifact rows → the (url, path, context) instance table
    (M1's output shape, ready for filter_valid_images)."""
    return (
        artifacts.filter(F.col("kind") == "I")
        .select(
            "url",
            F.col("name").alias("path"),
            F.col("description").alias("context"),
        )
        .dropDuplicates(["url", "path", "context"])
    )
