"""Head-entity skew evidence for the D1/M4 phases (VERDICT r4 item 6).

The north rule calls out Wikipedia-class hub entities as the skew risk for
the link-scoring join; the generated corpus already plants one head entity
in ~10% of pages (sources/pages.py:125) plus an ~8% image-bearing slice.
This tool builds the mention/image tables from such a corpus, then runs

  - D1: similarity_edges with the MinHash-LSH band + vectorized verify
    path forced (dedup.PAIRWISE_THRESHOLD = 0), and
  - M4: score_image_entities with the salted token-blocked join forced
    (mmodal.PAIR_LIMIT = -1), plus an unsalted control
    (mmodal.SALT_BUCKETS = 1),

each under its own Spark job group, and reads PER-TASK executorRunTime
quantiles for every stage of each group from the Spark UI REST API
(/api/v1/applications/<app>/stages/<id>/<attempt>/taskSummary). The
evidence the round needs is max/median task time ≤ 3× on the heavy stages
— i.e. the salt/banding actually flattens the hub key.

Usage:  python tools/bench_skew.py [--docs 200000] [--out skew_results.json]
Prints one JSON line; exit code 1 if any heavy stage exceeds the 3× gate.
"""

from __future__ import annotations

import argparse
import json
import sys
import urllib.error
import urllib.request

sys.path.insert(0, ".")


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.loads(r.read())


def _group_stages(base: str, app_id: str, group: str) -> list[dict]:
    """Per-stage task summaries for every job in ``group``.

    Returns [{stage_id, name, num_tasks, median_ms, max_ms, ratio}] sorted
    by max_ms descending. Skipped/empty stages are dropped.
    """
    jobs = _api(base, f"/api/v1/applications/{app_id}/jobs?status=succeeded")
    stage_ids = sorted(
        {
            sid
            for j in jobs
            if j.get("jobGroup") == group
            for sid in j.get("stageIds", [])
        }
    )
    out = []
    for sid in stage_ids:
        try:
            attempts = _api(
                base, f"/api/v1/applications/{app_id}/stages/{sid}"
            )
        except urllib.error.HTTPError:
            continue  # skipped stage: never ran, no attempt data
        for att in attempts:
            if att.get("status") != "COMPLETE" or att.get("numCompleteTasks", 0) < 2:
                continue
            try:
                s = _api(
                    base,
                    f"/api/v1/applications/{app_id}/stages/{sid}"
                    f"/{att['attemptId']}/taskSummary"
                    "?quantiles=0.0,0.5,1.0",
                )
            except urllib.error.HTTPError:
                continue
            lo, med, hi = s["executorRunTime"]
            out.append(
                {
                    "stage_id": sid,
                    "name": att.get("name", "")[:80],
                    "num_tasks": att.get("numCompleteTasks"),
                    "median_ms": med,
                    "max_ms": hi,
                    # sub-50ms medians are scheduling noise, not data skew:
                    # floor the denominator so trivial stages can't fail a
                    # skew gate they aren't evidence for
                    "ratio": round(hi / max(med, 50.0), 2),
                }
            )
    return sorted(out, key=lambda r: -r["max_ms"])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--out", default="")
    ap.add_argument("--gate", type=float, default=3.0)
    args = ap.parse_args()

    from pyspark.sql import functions as F  # noqa: F401

    from mmkg_rag_spark.operators import dedup, mmodal
    from mmkg_rag_spark.operators.dedup import collapse_exact, similarity_edges
    from mmkg_rag_spark.operators.extract import (
        extract_page_artifacts,
        split_image_instances,
        split_mentions,
    )
    from mmkg_rag_spark.operators.mmodal import (
        describe_images,
        filter_valid_images,
        score_image_entities,
    )
    from mmkg_rag_spark.operators.dedup import canonicalize_entities
    from mmkg_rag_spark.session import get_spark
    from mmkg_rag_spark.sources.pages import gen_pages_df

    spark = get_spark(extra_conf={"spark.ui.enabled": "true"})
    sc = spark.sparkContext
    base = sc.uiWebUrl
    app_id = sc.applicationId

    pages = gen_pages_df(spark, args.docs)
    artifacts = extract_page_artifacts(pages, 8000, 400, use_html=True).cache()
    entity_mentions, _ = split_mentions(artifacts)
    raw_instances = split_image_instances(artifacts)
    units = collapse_exact(entity_mentions).cache()
    units.count()  # materialize extraction + collapse OUTSIDE the groups

    # --- D1: LSH banding + vectorized verify, scale path forced ---
    sc.setJobGroup("d1_lsh_verify", "similarity_edges LSH path")
    pairwise_threshold, dedup.PAIRWISE_THRESHOLD = dedup.PAIRWISE_THRESHOLD, 0
    edges = similarity_edges(units)
    n_sim_edges = edges.count()
    dedup.PAIRWISE_THRESHOLD = pairwise_threshold
    sc.setJobGroup("default", "")

    # nodes for M4 (outside the measured groups)
    nodes, _ = canonicalize_entities(entity_mentions)
    nodes = nodes.cache()
    nodes.count()
    # manifest = every referenced asset exists (M2 is exercised as the
    # suffix whitelist + semi-join; the skew target here is M4)
    manifest = raw_instances.select("path").distinct()
    described = describe_images(
        filter_valid_images(raw_instances, manifest)
    ).cache()
    described.count()

    # --- M4: salted token-blocked relevance join, forced ---
    sc.setJobGroup("m4_salted_join", "score_image_entities blocked")
    mmodal.PAIR_LIMIT = -1
    top = score_image_entities(described, nodes)
    n_scored = top.count()
    sc.setJobGroup("default", "")

    # --- control: same join with the salt disabled (SALT_BUCKETS 1) —
    # the hub token key lands on a single reduce task; the delta between
    # this group's max/median and the salted one IS the salt's effect ---
    sc.setJobGroup("m4_unsalted_control", "score_image_entities salt=1")
    mmodal.SALT_BUCKETS = 1
    ctl = score_image_entities(described, nodes)
    n_ctl = ctl.count()
    sc.setJobGroup("default", "")

    report = {
        "docs": args.docs,
        "n_sim_edges": n_sim_edges,
        "n_scored_pairs": n_scored,
        "n_ctl_pairs": n_ctl,
        "gate_ratio": args.gate,
        "d1_lsh_verify": _group_stages(base, app_id, "d1_lsh_verify")[:6],
        "m4_salted_join": _group_stages(base, app_id, "m4_salted_join")[:6],
        "m4_unsalted_control": _group_stages(
            base, app_id, "m4_unsalted_control"
        )[:6],
    }
    # the gate applies to the stages that do real work (top-3 by max task
    # time per phase) — tail stages with 2-3 tiny tasks aren't skew evidence
    fails = [
        s
        for key in ("d1_lsh_verify", "m4_salted_join")
        for s in report[key][:3]
        if s["ratio"] > args.gate
    ]
    report["gate_pass"] = not fails
    line = json.dumps(report)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
