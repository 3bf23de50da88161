"""mmkg_rag_spark — a PySpark-native multi-modal knowledge-graph construction engine.

A from-scratch reimplementation of the query & data-processing capabilities of
``wenzhaoabc/mmkg-rag`` (reference snapshot at /root/reference, 2025-06-14),
re-expressed Spark-first:

- ingestion from a Common-Crawl-style ``pages(url, warc_ts, html, text, lang)``
  table (Iceberg in production; snapshot-log parquet warehouse in-sandbox),
- chunking / mention extraction / alias discovery as vectorized Arrow UDFs,
- canonicalization as MinHash-LSH blocking + connected components + grouped merge,
- multi-modal image→entity linking as a salted, windowed top-k join,
- partitioned node/edge table materialization with per-stage lineage metrics and
  snapshot-checkpoint resume.

Package layout:
    kernels/      pure-Python parity kernels (reference-faithful parsers,
                  similarity, chunker, text ops) — shared by the Spark UDFs and
                  the reference replica used as the correctness oracle
    functions/    columnar helpers & pandas UDF wrappers
    operators/    DataFrame operators (extract, dedup, mmodal, retrieval,
                  text dedup, ANN, text stats)
    sources/      pages generator, testdata tables, snapshot warehouse
    pipeline.py   one-shot build (build_kg)
    streaming.py  fold of page micro-batches into the stored graph
                  (process_pages_batch) and its stream driver (stream_build)
    sinks.py      graph snapshot writes (the catalog tables are the store)
    run.py        staged resumable runner
    metrics.py    lineage rows read from the commit log and scoring-throughput
                  counters
"""

__version__ = "0.1.0"
