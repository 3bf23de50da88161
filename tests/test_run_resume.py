"""Staged-runner checkpoint/resume semantics (north-rule ops requirements).

Covers: snapshot-fingerprint stage skipping (kill/rerun ⇒ resume), the
catalog's log entries, and per-file lineage/metrics rows.
"""

from __future__ import annotations

import io
import json
import os
from contextlib import redirect_stdout

import pyarrow.parquet as pq
import pytest

from mmkg_rag_spark.sources.catalog import ParquetCatalog
from mmkg_rag_spark.sources.pages import gen_pages_df, image_manifest


@pytest.fixture(scope="module")
def spark():
    from mmkg_rag_spark.session import get_spark

    yield get_spark(master="local[4]", shuffle_partitions=8, app_name="pytest-run")


def _full_rows(df):
    return sorted(
        (tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()),
        key=repr,
    )


def _build_kg_catalog(spark, wh, n_docs):
    """A warehouse holding build_kg + write_graph over ``n_docs`` generated
    pages, with run.py's image manifest."""
    from mmkg_rag_spark.pipeline import build_kg
    from mmkg_rag_spark.sinks import write_graph

    cat = ParquetCatalog(spark, wh)
    manifest = spark.createDataFrame([(p,) for p in image_manifest()], "path string")
    r = build_kg(spark, gen_pages_df(spark, n_docs), manifest)
    write_graph(cat, r.nodes, r.all_edges, "kg", r.images)
    return cat


def test_staged_run_resumes(spark, tmp_path_factory):
    from mmkg_rag_spark.run import main

    wh = str(tmp_path_factory.mktemp("wh"))
    args = ["--n-docs", "30", "--warehouse", wh, "--master", "local[4]"]

    out1 = io.StringIO()
    with redirect_stdout(out1):
        assert main(args) == 0
    first = out1.getvalue()
    assert first.count("[run   ]") == 5 and "[resume]" not in first

    out2 = io.StringIO()
    with redirect_stdout(out2):
        assert main(args) == 0
    second = out2.getvalue()
    assert second.count("[resume]") == 5 and "[run   ]" not in second
    # same summary both times
    assert first.splitlines()[-6:] == second.splitlines()[-6:]

    # changed params ⇒ downstream stages recompute, pages stage too (new fp)
    out3 = io.StringIO()
    with redirect_stdout(out3):
        assert main(args + ["--chunk-size", "4000", "--overlap", "200"]) == 0
    third = out3.getvalue()
    assert "[resume] pages" in third  # same input ⇒ reused
    assert "[run   ] mentions" in third  # new chunking params ⇒ recomputed

    # the runner's graph stage stores what build_kg + write_graph store
    # over the same pages: nodes, edges (image edges included) and images
    cat = ParquetCatalog(spark, wh)
    snap = [e["id"] for e in cat._entries() if "nodes" in e["tables"]][-1]  # first run
    kg = _build_kg_catalog(spark, str(tmp_path_factory.mktemp("wh_kg")), 30)
    for table in ("nodes", "edges", "images"):
        assert _full_rows(cat.read(table, snap)) == _full_rows(kg.read(table)), table
    assert cat.read("images", snap).count() > 0


def test_fold_into_runner_warehouse_equals_build_kg(spark, tmp_path_factory):
    """A fold into the warehouse run.py built commits the same nodes and
    edges, every column, as the same fold into a build_kg + write_graph
    warehouse; every node label is one the extractor emits."""
    from mmkg_rag_spark.kernels.mockllm import LABEL_PHRASES
    from mmkg_rag_spark.run import main
    from mmkg_rag_spark.streaming import process_pages_batch

    wh = str(tmp_path_factory.mktemp("wh_fold_run"))
    with redirect_stdout(io.StringIO()):
        assert main(["--n-docs", "30", "--warehouse", wh, "--master", "local[4]"]) == 0
    runner = ParquetCatalog(spark, wh)
    kg = _build_kg_catalog(spark, str(tmp_path_factory.mktemp("wh_fold_kg")), 30)

    batch = gen_pages_df(spark, 10, seed=7)
    for cat in (runner, kg):
        process_pages_batch(spark, cat, batch, batch_id=0)
    for table in ("nodes", "edges"):
        assert _full_rows(runner.read(table)) == _full_rows(kg.read(table)), table
    labels = {r.label for r in runner.read("nodes").select("label").distinct().collect()}
    assert labels and labels <= set(LABEL_PHRASES.values())


def test_partial_failure_resumes_midway(spark, tmp_path_factory):
    """Simulate a crash after stage 2: later stages compute, earlier resume."""
    from mmkg_rag_spark.run import main

    wh = str(tmp_path_factory.mktemp("wh2"))
    args = ["--n-docs", "20", "--warehouse", wh, "--master", "local[4]"]
    with redirect_stdout(io.StringIO()):
        main(args)

    # drop the graph stage's log entry ⇒ "crash before stage 3's commit"
    cat = ParquetCatalog(spark, wh)
    os.remove(os.path.join(wh, "_log", f"v{cat.entry()['seq']}.json"))
    assert "nodes" not in cat.entry()["tables"]

    out = io.StringIO()
    with redirect_stdout(out):
        assert main(args) == 0
    text = out.getvalue()
    assert "[resume] pages" in text and "[resume] mentions" in text
    assert "[run   ] nodes" in text  # recomputed from the surviving inputs

    # the recomputed stage flushed a fresh metrics row, and its rows_in is
    # the surviving mentions snapshot's row count (lineage survives resume)
    from mmkg_rag_spark.metrics import read_metrics

    m = read_metrics(spark, wh).filter("stage = 'nodes'").collect()
    assert len(m) >= 2  # original run + post-crash recompute
    mention_rows = sum(
        r.rows for r in read_metrics(spark, wh).filter("stage = 'mentions'").collect()
    )
    assert any(r.rows_in == mention_rows for r in m)


def test_metrics_lineage_rows(spark, tmp_path_factory):
    from mmkg_rag_spark.metrics import read_metrics
    from mmkg_rag_spark.run import main

    wh = str(tmp_path_factory.mktemp("wh3"))
    with redirect_stdout(io.StringIO()):
        main(["--n-docs", "20", "--warehouse", wh, "--master", "local[4]"])
    m = read_metrics(spark, wh)
    rows = m.collect()
    stages = {r.stage for r in rows}
    assert {"pages", "mentions", "nodes", "edges", "images"} <= stages
    assert all(r.rows >= 0 and r.wall_ms >= 0 and r.file for r in rows)
    # lineage chain: mentions' input snapshot is pages' snapshot
    pages_snap = next(r.snapshot for r in rows if r.stage == "pages")
    assert any(
        r.stage == "mentions" and r.input_snapshot == pages_snap for r in rows
    )
    # rows-in/rows-out accounting: mentions' rows_in equals the pages
    # snapshot's total row count; the source stage reports -1 (no upstream)
    pages_total = sum(r.rows for r in rows if r.stage == "pages")
    assert all(
        r.rows_in == pages_total for r in rows if r.stage == "mentions"
    )
    assert all(r.rows_in == -1 for r in rows if r.stage == "pages")


def test_catalog_manifest_roundtrip(spark, tmp_path_factory):
    from mmkg_rag_spark.sources.catalog import fingerprint

    wh = str(tmp_path_factory.mktemp("wh4"))
    cat = ParquetCatalog(spark, wh)
    df = spark.range(10).withColumnRenamed("id", "x")
    fp = fingerprint("t", 1)
    cat.write(df, "t", fp, meta={"input": "-"})
    assert cat.has_snapshot(fp)
    assert not cat.has_snapshot(fingerprint("t", 2))
    assert cat.read("t", fp).count() == 10
    assert cat.read("t").count() == 10  # latest
    # the log entry: its id, meta and the table's warehouse-relative data
    # path, schema and footer row counts
    entry = json.load(open(os.path.join(wh, "_log", "v1.json")))
    assert entry == cat.entry(fp)
    assert entry["id"] == fp and entry["seq"] == 1 and entry["meta"] == {"input": "-"}
    assert entry["query_id"] is None and list(entry["tables"]) == ["t"]
    t = entry["tables"]["t"]
    assert t["path"] == os.path.join("t", f"snap-{fp}")
    assert [f["name"] for f in t["schema"]["fields"]] == ["x"]
    assert sum(t["files"].values()) == 10
    assert sorted(t["files"]) == sorted(
        f for f in os.listdir(cat.snapshot_dir("t", fp)) if f.endswith(".parquet")
        and pq.read_metadata(os.path.join(cat.snapshot_dir("t", fp), f)).num_rows
    )

def test_cli_evaluate_prints_win_rates(spark, tmp_path_factory):
    """--evaluate runs the hermetic evaluation harness over the built graph
    and prints per-metric win-rate statistics plus a JSON summary line."""
    import json

    from mmkg_rag_spark.run import main

    wh = str(tmp_path_factory.mktemp("wh_eval"))
    out = io.StringIO()
    with redirect_stdout(out):
        assert main([
            "--n-docs", "20", "--warehouse", wh, "--master", "local[4]",
            "--evaluate", "A corpus about organizations.", "--eval-n", "1",
        ]) == 0
    text = out.getvalue()
    assert "evaluated 1 questions" in text
    stats = json.loads(
        [ln for ln in text.splitlines() if ln.startswith('{"win_rates"')][-1]
    )["win_rates"]
    assert set(stats) == {
        "Comprehensiveness", "Diversity", "Empowerment", "Directness"
    }
    assert all(sum(c.values()) == 1 for c in stats.values())
