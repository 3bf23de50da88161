"""Distributed PageRank over an edge DataFrame (entity centrality).

The reference keeps its graph in pickles/Neo4j and has no ranking operator
(nearest analogue: degree-sorted listings in the GUI, gui/graph.py); a KG
built at crawl scale needs centrality server-side — "which entities matter"
is the first question asked of a 10^9-node graph, and ranking feeds retrieval
seeding (`retrieval.search_eris` currently seeds by fuzzy match only).

Scale shape: per iteration exactly ONE shuffle of the rank table (join on
``src`` against the static out-degree-annotated adjacency, which is hash-
partitioned once and cached) plus the groupBy(dst) reduce with map-side
partial sums. Lineage is cut with ``localCheckpoint`` every few iterations —
the classic iterative-DataFrame pitfall (exponential plan growth), same
treatment as `functions.components`.

Determinism: ranks are exact scaled BIGINTs, not doubles. Every operation in
the recurrence is integer (div truncates; all values non-negative), so the
result is bit-identical regardless of partitioning, reduce order, or engine —
which is what lets a DuckDB oracle hash-match a 5-iteration run. The
recurrence (damping d = num/den, default 17/20 = 0.85):

    rank_0(v)   = scale                          # 10^12
    inc_i(v)    = sum over edges u->v of rank_i(u) div outdeg(u)
    rank_i+1(v) = (scale*(den-num)) div den + (inc_i(v) div den) * num

Dangling nodes (no out-edges) contribute nothing — their mass leaks rather
than being redistributed; with ``undirected=True`` (the KG default) there are
no dangling nodes, since every edge gives both endpoints out-degree.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 10**12


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 5,
    damping_num: int = 17,
    damping_den: int = 20,
    scale: int = SCALE,
    undirected: bool = False,
    checkpoint_every: int = 2,
    broadcast_nodes: int = 1_000_000,
    personalize: DataFrame | None = None,
) -> DataFrame:
    """Return DataFrame(node, rank_scaled: bigint, rank: double).

    ``rank_scaled`` is the exact integer fixed-point rank (the parity
    artifact); ``rank`` is ``rank_scaled / scale`` for human consumption.
    Multi-edges are collapsed (distinct) — centrality here counts
    neighbors, not edge multiplicity.

    ``personalize``: optional DataFrame with a ``node`` column — the
    teleport set. Initial mass and the per-iteration base term go ONLY to
    these nodes, so ranks measure random-walk proximity to the seed set
    (personalized PageRank, the GraphRAG-style retrieval ranking: seed =
    query entities, rank = neighborhood relevance). Same exact-integer
    recurrence with seed(v) ∈ {0,1}:

        rank_0(v)   = seed(v) * scale
        rank_i+1(v) = seed(v) * base + (inc_i(v) div den) * num

    Physical strategy is adaptive, mirroring `functions.components`: the
    rank table has one row per VERTEX — orders of magnitude smaller than
    the edge list — so while it fits (≤ ``broadcast_nodes``), every
    iteration broadcasts it and the big adjacency never moves: one
    map-side-combined groupBy(dst) per iteration is the only shuffle.
    Past that, the adjacency is hash-partitioned on ``src`` once and
    cached; each iteration then shuffles only the rank table (vertex-
    proportional) onto that fixed partitioning. Either way the edge list
    is materialized exactly once (``localCheckpoint``), not re-derived by
    the degree/adjacency/vertex branches.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if undirected:
        e = e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.distinct().localCheckpoint()

    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if personalize is None:
        nodes = nodes.select("node", F.lit(1).cast("bigint").alias("sflag"))
    else:
        seeds = personalize.select(
            F.col("node"), F.lit(1).cast("bigint").alias("sflag")
        ).distinct()
        nodes = nodes.join(F.broadcast(seeds), "node", "left").select(
            "node", F.coalesce("sflag", F.lit(0).cast("bigint")).alias("sflag")
        )
    nodes = nodes.localCheckpoint()
    small = nodes.count() <= broadcast_nodes
    if small:
        # map-only adjacency annotation; vertex-sized tables broadcast
        adj = e.join(F.broadcast(deg), "src").localCheckpoint()
    else:
        adj = e.join(deg, "src").repartition("src").cache()

    base = (scale * (damping_den - damping_num)) // damping_den
    ranks = nodes.select(
        "node", (F.lit(scale).cast("bigint") * F.col("sflag")).alias("rank")
    )
    for i in range(iterations):
        r = F.broadcast(ranks) if small else ranks
        inc = (
            adj.join(r, adj["src"] == r["node"])
            .select(F.col("dst"), F.expr("rank div outdeg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("inc"))
        )
        inc_j = F.broadcast(inc) if small else inc
        ranks = (
            nodes.join(inc_j, nodes["node"] == inc_j["dst"], "left")
            .select(
                "node",
                F.expr(
                    f"sflag * {base}L + (coalesce(inc, 0L) div {damping_den}) "
                    f"* {damping_num}"
                ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iterations:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select(
        "node",
        F.col("rank").alias("rank_scaled"),
        (F.col("rank") / F.lit(float(scale))).alias("rank"),
    )


def _canonical_triangles(
    edges: DataFrame, src: str = "src", dst: str = "dst", *,
    canonical: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared degree-oriented triangle enumeration.

    Returns (e, deg, tri): the canonical simple edge list (a < b,
    distinct, checkpointed), per-node degrees over it, and every
    triangle exactly once as (u, v1, v2) in orientation order. See
    triangle_counts for the O(m^1.5) skew analysis.

    ``canonical=True`` asserts the input is ALREADY a canonical simple
    edge list (src < dst, distinct — e.g. the survivor set of a
    previous peel) and skips the least/greatest + distinct shuffle.
    """
    if canonical:
        e = edges.select(
            F.col(src).alias("a"), F.col(dst).alias("b")
        ).localCheckpoint()
    else:
        e = (
            edges.select(
                F.least(F.col(src), F.col(dst)).alias("a"),
                F.greatest(F.col(src), F.col(dst)).alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("degb"))
    ed = e.join(da, "a").join(db, "b")
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("degb")).otherwise(F.col("dega")).alias("dv"),
    ).localCheckpoint()

    o1 = oriented.select(
        F.col("u"), F.col("v").alias("v1"), F.col("dv").alias("dv1")
    )
    o2 = oriented.select(
        F.col("u"), F.col("v").alias("v2"), F.col("dv").alias("dv2")
    )
    wedges = o1.join(o2, "u").where(
        (F.col("dv1") < F.col("dv2"))
        | ((F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2")))
    )
    closing = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    tri = wedges.join(closing, ["v1", "v2"]).select("u", "v1", "v2")
    return e, deg, tri


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient.

    Returns DataFrame(node, degree: bigint, triangles: bigint,
    clustering: double) over the undirected simple graph (multi-edges and
    self-loops dropped). ``clustering = 2*triangles / (degree*(degree-1))``.

    Scale shape — the MapReduce-classic *degree orientation* (Suri &
    Vassilvitskii, WWW'11): orient every undirected edge from its
    lower-(degree, id) endpoint to the higher one, enumerate wedges as
    pairs of out-edges per source, and close them against the oriented
    edge list. Out-degree under this orientation is O(sqrt(m)) even for
    hub nodes, so the wedge join — the only superlinear stage — is bounded
    by sum C(outdeg, 2) ≤ O(m^1.5) with NO skew blowup on power-law
    graphs: a Wikipedia-class hub of degree 10^6 contributes ~sqrt(m)
    wedges, not 10^12. Everything is equi-joins and groupBys; each
    triangle is emitted exactly once (its orientation-ordered corner).

    Determinism: pure set semantics — counts are exact integers, so the
    DuckDB oracle (same construction in SQL) hash-matches.
    """
    e, deg, tri = _canonical_triangles(edges, src, dst)
    per_node = (
        tri.select(F.explode(F.array("u", "v1", "v2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce("triangles", F.lit(0).cast("bigint")).alias("triangles"),
        F.when(F.col("degree") < 2, F.lit(0.0))
        .otherwise(
            (F.coalesce("triangles", F.lit(0).cast("bigint")) * F.lit(2)).cast(
                "double"
            )
            / (F.col("degree") * (F.col("degree") - 1))
        )
        .alias("clustering"),
    )


def edge_support(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    canonical: bool = False,
) -> DataFrame:
    """Per-EDGE triangle support → (a, b, support) with a < b.

    The support of edge {u, v} is the number of triangles containing it
    (= |N(u) ∩ N(v)|) — the k-truss building block and the classic
    edge-strength signal: in a KG it separates structurally-embedded
    relations (endpoints share many neighbors) from incidental ones.
    Same degree-oriented O(m^1.5) enumeration as triangle_counts; each
    triangle then credits its three canonical edges through one explode
    + one map-side-combinable groupBy on the edge key. Edges in no
    triangle ship with support 0 (left join back to the edge list), so
    the output is exactly the simple edge set — exact integers, oracle
    hash-matchable. ``canonical=True``: the input is already a
    canonical simple edge list — skip the dedup shuffle (peeling loops
    feed their own survivor sets back).
    """
    e, _, tri = _canonical_triangles(edges, src, dst, canonical=canonical)
    pairs = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("u", "v1").alias("a"),
                    F.greatest("u", "v1").alias("b"),
                ),
                F.struct(
                    F.least("u", "v2").alias("a"),
                    F.greatest("u", "v2").alias("b"),
                ),
                F.struct(
                    F.least("v1", "v2").alias("a"),
                    F.greatest("v1", "v2").alias("b"),
                ),
            )
        ).alias("p")
    ).select("p.a", "p.b")
    sup = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
    return e.join(sup, ["a", "b"], "left").select(
        "a",
        "b",
        F.coalesce("support", F.lit(0).cast("bigint")).alias("support"),
    )


def ktruss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    *,
    rounds: int = 3,
    canonical: bool = False,
    delta_frac: float = 0.20,
) -> DataFrame:
    """k-truss peeling after ``rounds`` synchronous rounds →
    (a, b, support) over the surviving edge set. ``canonical=True``:
    the INPUT edge list is already canonical (src < dst, distinct) —
    skip round 0's dedup shuffle.

    The k-truss (maximal subgraph where every edge sits in ≥ k−2
    triangles of the subgraph) is the edge-side analogue of the k-core
    and a far stronger dense-substructure extractor (Cohen 2008) — a
    KG's "well-attested relation core". Each round recomputes edge
    support over the surviving edges and drops those below k−2. FIXED
    round count, same contract as kcore/lpa/mis: no convergence probes,
    a pure function of (graph, k, rounds) that an unrolled SQL oracle
    replays exactly; rounds after convergence are no-ops.

    ADAPTIVE DELTA PEELING (round 5): only round 0 unconditionally
    pays the full O(m^1.5) triangle enumeration. Each peel round then
    picks its physical strategy from the measured drop fraction (one
    count per round over the checkpointed support table — a strategy
    probe in the dedup/mmodal adaptive tradition; it never changes the
    result, which stays a pure function of (graph, k, rounds)):

    - drop = 0  → fixed point reached; every remaining round is
      provably a no-op, so the loop exits with the identical result.
    - drop ≤ ``delta_frac``·|edges| (default 0.20 — a quiet-window A/B
      at sf0.1 put the delta ~0.4 s ahead of the full recount at a
      17%-drop round and far ahead near convergence) → DELTA: enumerate
      just the DEAD
      triangles — triangles of the pre-drop graph containing ≥ 1
      dropped edge, expanded from each dropped edge's lower-degree
      endpoint and closed against the edge set — and decrement the
      support of their surviving edges. A triangle with 2-3 dropped
      edges is deduplicated by its sorted vertex triple first, so
      support_i(e) = support_{i-1}(e) − |dead triangles ∋ e| is exactly
      the recount the naive loop performs. Cost ~ Σ_dropped min-deg,
      near-zero on a mostly-converged graph.
    - otherwise → full recount over the survivors (the naive round):
      measured at sf0.1, a 30%-drop round costs ~5× more via delta
      (368k dropped edges × min-degree expansion) than via the
      degree-oriented full enumeration, so large early peels keep the
      wedge-oriented path.

    The unrolled SQL oracle replays the naive recount every round and
    hash-matches either branch unchanged.
    """
    thr = k - 2
    cur = edge_support(edges, src, dst, canonical=canonical).localCheckpoint()
    n_edges = cur.count()
    for _ in range(rounds):
        dropped = cur.filter(F.col("support") < thr).select("a", "b")
        n_drop = dropped.count()
        surv = cur.filter(F.col("support") >= thr)
        if n_drop == 0:
            break
        if n_drop > delta_frac * n_edges:
            cur = edge_support(
                surv.select("a", "b"), "a", "b", canonical=True
            ).localCheckpoint()
        else:
            dec = (
                _dead_triangles(cur.select("a", "b"), dropped)
                .select(
                    F.explode(
                        F.array(
                            F.struct(
                                F.col("t1").alias("a"), F.col("t2").alias("b")
                            ),
                            F.struct(
                                F.col("t1").alias("a"), F.col("t3").alias("b")
                            ),
                            F.struct(
                                F.col("t2").alias("a"), F.col("t3").alias("b")
                            ),
                        )
                    ).alias("p")
                )
                .select("p.a", "p.b")
                .groupBy("a", "b")
                .agg(F.count(F.lit(1)).alias("_dec"))
            )
            cur = (
                surv.join(dec, ["a", "b"], "left")
                .select(
                    "a",
                    "b",
                    (
                        F.col("support")
                        - F.coalesce(F.col("_dec"), F.lit(0).cast("bigint"))
                    ).alias("support"),
                )
                .localCheckpoint()
            )
        n_edges -= n_drop
    return cur


def _dead_triangles(e_all: DataFrame, dropped: DataFrame) -> DataFrame:
    """Distinct triangles of canonical edge set ``e_all`` (a < b) that
    contain ≥ 1 edge of ``dropped`` (⊆ e_all, same canonical shape) →
    (t1, t2, t3) with t1 < t2 < t3, each dead triangle exactly once.

    Expansion is oriented from each dropped edge's lower-degree
    endpoint (ties by node id), so the candidate volume is
    Σ_dropped min(deg) — the same degree-oriented bound the full
    enumeration uses, but restricted to the dropped set. Closing is a
    semi-join against the edge set on the canonicalized third pair.
    """
    bi = e_all.select(F.col("a").alias("x"), F.col("b").alias("w")).unionAll(
        e_all.select(F.col("b").alias("x"), F.col("a").alias("w"))
    )
    deg = bi.groupBy("x").agg(F.count(F.lit(1)).alias("_d"))
    dd = (
        dropped.join(
            deg.select(F.col("x").alias("a"), F.col("_d").alias("_da")), "a"
        ).join(deg.select(F.col("x").alias("b"), F.col("_d").alias("_db")), "b")
    )
    lo_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    oriented = dd.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("x"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("y"),
    )
    cand = oriented.join(bi, "x").where(F.col("w") != F.col("y"))
    closed = cand.join(
        e_all.select(F.col("a").alias("_ca"), F.col("b").alias("_cb")),
        (F.least("y", "w") == F.col("_ca"))
        & (F.greatest("y", "w") == F.col("_cb")),
        "semi",
    )
    t = F.array_sort(F.array("x", "y", "w"))
    return (
        closed.select(
            t[0].alias("t1"), t[1].alias("t2"), t[2].alias("t3")
        ).distinct()
    )


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    *,
    rounds: int = 6,
    broadcast_nodes: int = 1_000_000,
    checkpoint_every: int = 2,
) -> DataFrame:
    """k-core peeling → DataFrame(node, core_degree) after ``rounds`` peels.

    The k-core (maximal subgraph where every node has degree ≥ k) is the
    standard dense-substructure extractor — for a crawl-scale KG it
    separates the well-attested entity core from the long tail of
    single-mention noise before community detection / summarization.

    Synchronous peeling: each round recomputes degrees over the surviving
    subgraph and drops nodes below k. A FIXED round count (no convergence
    probe jobs — rounds after convergence are no-ops) keeps the operator a
    pure function of (graph, k, rounds): both this implementation and the
    DuckDB oracle run exactly ``rounds`` iterations, so exact integer
    degrees hash-match cross-engine. For guaranteed convergence, rounds
    must reach the peeling depth (≤ n worst case, small in practice —
    pass a larger ``rounds`` rather than a probe loop at 10^12 scale,
    where each probe is a full job).

    Scale shape: per round two semi-joins of the (cached, never-moving)
    adjacency against the vertex-sized survivor set — broadcast while the
    survivor table is ≤ ``broadcast_nodes``, hash-join on the adjacency's
    fixed partitioning past that — plus one map-side-combined groupBy.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = (
        e.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    bi = (
        e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(e.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint()
    )
    nodes = bi.select(F.col("src").alias("node")).distinct().localCheckpoint()
    small = nodes.count() <= broadcast_nodes
    alive = nodes
    deg = None
    for r in range(rounds):
        al = F.broadcast(alive) if small else alive
        surv = (
            bi.join(al, bi["src"] == al["node"], "semi")
            .join(
                (F.broadcast(alive) if small else alive).withColumnRenamed(
                    "node", "_dn"
                ),
                F.col("dst") == F.col("_dn"),
                "semi",
            )
        )
        deg = surv.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("core_degree")
        )
        alive = deg.where(F.col("core_degree") >= k).select("node")
        if (r + 1) % checkpoint_every == 0 and (r + 1) < rounds:
            alive = alive.localCheckpoint()
    return deg.where(F.col("core_degree") >= k)


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 4,
    undirected: bool = True,
    broadcast_nodes: int = 1_000_000,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Deterministic synchronous label propagation → DataFrame(node, community).

    Community detection for the constructed graph — the step GraphRAG-style
    pipelines run between KG build and community summarization. Classic LPA
    is run-order-dependent; this is the synchronous variant with a total
    tie-break, so it is a pure function of the graph:

        label_0(v)   = v
        label_i+1(v) = argmax over labels L of v's in-neighbors,
                       ordered by (count(L) DESC, L ASC);
                       v keeps label_i(v) if it has no in-neighbors
                       (directed graphs only — undirected has none)

    The argmax is computed as ``min(struct(-count, label))`` — one exact
    integer/string comparison, no window — so like `pagerank` the result is
    bit-identical across partitionings and engines (the driver query's
    DuckDB oracle unrolls the same recurrence with a ROW_NUMBER tie-break).

    Scale shape: per iteration a label-annotated neighbor list
    (vertex-broadcast join while ≤ ``broadcast_nodes``, else a shuffle onto
    the cached src-partitioned adjacency) feeds groupBy(dst, label) with
    map-side partials, then the vertex-sized min-struct reduce. Fixed
    iteration count — no convergence probe jobs.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if undirected:
        e = e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.distinct().localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    small = nodes.count() <= broadcast_nodes
    adj = e if small else e.repartition("src").cache()

    labels = nodes.select("node", F.col("node").alias("label"))
    for i in range(iterations):
        lbl = F.broadcast(labels) if small else labels
        cnt = (
            adj.join(lbl, adj["src"] == lbl["node"])
            .groupBy(F.col("dst"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        voted = (
            cnt.groupBy("dst")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias("top"))
            .select(F.col("dst"), F.col("top.label").alias("vlabel"))
        )
        # vote-less nodes (no in-neighbors; directed graphs) keep their label
        voted_j = F.broadcast(voted) if small else voted
        labels = (
            labels.join(voted_j, labels["node"] == voted_j["dst"], "left")
            .select("node", F.coalesce("vlabel", "label").alias("label"))
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iterations:
            labels = labels.localCheckpoint(eager=False)
    return labels.select("node", F.col("label").alias("community"))


def bfs_distances(
    edges: DataFrame,
    seeds: "list | DataFrame",
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    *,
    undirected: bool = True,
    broadcast_nodes: int = 1_000_000,
    canonical: bool = False,
) -> DataFrame:
    """Unweighted single/multi-source shortest paths → (node, dist).

    The generalization of the reference's k-hop neighborhood expansion
    (`/root/reference/src/mmkg_rag/retrieval/search.py:151-215`, which
    calls networkx ``single_source_shortest_path_length`` with
    ``cutoff=max_hop``): the same BFS distance map, distributed. Retrieval
    uses it to rank context by graph proximity to the query's seed
    entities; the KG side uses it for reachability audits.

    Level-synchronous relaxation: per round, the CURRENT FRONTIER ONLY
    (nodes first reached last round — relaxing already-settled nodes can
    never improve an unweighted distance) joins the cached adjacency,
    and newly reached nodes merge in with an anti-join against the
    settled set. Distances are exact integers — bit-identical across
    partitionings and engines, so the DuckDB oracle unrolls the same
    ``max_hops`` rounds as chained CTEs and hash-matches.

    Round cost is ONE Spark job (the Luby-MIS fusion, round 5): the new
    frontier gets a non-eager lineage cut materialized by the round's
    single frontier-sized ``count()``; the monotone settled set is kept
    as the list of per-hop checkpointed frontier pieces and unioned
    only at the end — no settled-sized checkpoint job ever runs, and
    the per-round anti-join reads the already-materialized pieces. An
    empty frontier ends the loop early: every later round is provably
    empty too, so the result — a pure function of (graph, seeds,
    max_hops) — is unchanged, while diameter-bounded callers
    (pseudo_diameter's 10-hop sweeps) stop paying the per-round
    scheduling constant past convergence.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if undirected:
        e = e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    # canonical=True: the caller guarantees the edge list is already
    # distinct (and pre-symmetrized, passed with undirected=False) and
    # materialized — e.g. pseudo_diameter's shared checkpoint feeding two
    # sweeps — so the dedup shuffle + per-sweep checkpoint are skipped.
    adj = e if canonical else e.distinct().localCheckpoint()
    # frontier ⊆ nodes: broadcast the frontier joins only while the whole
    # vertex set is broadcastable (one count up front, same rule as kcore —
    # no per-round probe jobs); past that, hash-join on adj's partitioning.
    # In directed mode the frontier can contain dst-only sinks, so the
    # bound must count the FULL vertex set (src ∪ dst), not just sources —
    # undirected adj already contains both orientations so src suffices.
    verts = adj.select(F.col("src").alias("node"))
    if not undirected:
        verts = verts.unionAll(adj.select(F.col("dst").alias("node")))
    small = verts.distinct().count() <= broadcast_nodes
    spark = edges.sparkSession
    if isinstance(seeds, DataFrame):
        # data-dependent seeds (e.g. pseudo_diameter's second sweep):
        # a (node)-column DataFrame keeps the seed set on the executors —
        # it is checkpointed, never collected to the driver
        settled = seeds.select("node", F.lit(0).alias("dist")).localCheckpoint()
    else:
        settled = spark.createDataFrame(
            [(s, 0) for s in seeds], f"node {_node_type(seeds)}, dist int"
        ).localCheckpoint()
    pieces = [settled]
    frontier = settled
    for hop in range(1, max_hops + 1):
        f = frontier.withColumnRenamed("node", "src").drop("dist")
        reached = (
            adj.join(F.broadcast(f) if small else f, "src")
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        settled_u = functools.reduce(
            lambda a, b: a.unionByName(b), (p.select("node") for p in pieces)
        )
        frontier = (
            reached.join(settled_u, "node", "anti")
            .withColumn("dist", F.lit(hop))
            .localCheckpoint(eager=False)
        )
        if frontier.count() == 0:
            break
        pieces.append(frontier)
    return functools.reduce(lambda a, b: a.unionByName(b), pieces)



def _node_type(seeds: list) -> str:
    """BIGINT node ids when the caller supplies integer seeds: long keys
    shuffle/hash at roughly half the byte volume of 'S123'-style strings —
    the cheap representational win for the composite-key BFS family."""
    return "long" if all(isinstance(s, int) for s in seeds) else "string"

def bfs_distances_per_seed(
    edges: DataFrame,
    seeds: list[str],
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    *,
    undirected: bool = True,
) -> DataFrame:
    """Per-seed BFS distances → (seed, node, dist) in ONE synchronized loop.

    ``bfs_distances`` collapses multiple seeds into a min-distance map;
    centrality measures (harmonic/closeness over sampled sources) need the
    distance from EVERY seed separately. Running |seeds| independent BFS
    jobs would cost |seeds| job waves; instead the settled table is keyed
    by the COMPOSITE (seed, node) and all seeds advance level-
    synchronously — per hop exactly one frontier⋈adjacency join + one
    distinct + one anti-join, regardless of seed count. State is at most
    |seeds|·|V| rows, which is why callers sample seeds (the standard
    estimator for centralities at scale: exact per sampled source, sum
    over the sample). Distances are exact integers, so the DuckDB oracle
    unrolls the same rounds with a seed column and hash-matches.

    Same one-job-per-round fusion as ``bfs_distances``: non-eager
    frontier cut materialized by the round's count, settled kept as
    per-hop pieces unioned at the end, early exit on an empty frontier
    (identical result — later rounds are provably empty).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if undirected:
        e = e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    adj = e.distinct().localCheckpoint()
    spark = edges.sparkSession
    nt = _node_type(seeds)
    settled = spark.createDataFrame(
        [(s, s, 0) for s in seeds], f"seed {nt}, node {nt}, dist int"
    ).localCheckpoint()
    pieces = [settled]
    frontier = settled
    for hop in range(1, max_hops + 1):
        reached = (
            adj.join(
                frontier.withColumnRenamed("node", "src").drop("dist"), "src"
            )
            .select("seed", F.col("dst").alias("node"))
            .distinct()
        )
        settled_u = functools.reduce(
            lambda a, b: a.unionByName(b),
            (p.select("seed", "node") for p in pieces),
        )
        frontier = (
            reached.join(settled_u, ["seed", "node"], "anti")
            .withColumn("dist", F.lit(hop))
            .localCheckpoint(eager=False)
        )
        if frontier.count() == 0:
            break
        pieces.append(frontier)
    return functools.reduce(lambda a, b: a.unionByName(b), pieces)


def shortest_path_counts(
    edges: DataFrame,
    seeds: list[str],
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    *,
    undirected: bool = True,
) -> DataFrame:
    """Shortest-path multiplicities σ_s(v) from sampled seeds → (seed,
    node, dist, sigma).

    Brandes' σ recurrence — the building block of betweenness/stress
    centrality: a node first reached at level h has
    ``σ(v) = Σ_{u ∈ pred(v), dist(u)=h-1} σ(u)`` shortest paths. σ is a
    pure BIGINT (no float accumulation), so the DuckDB oracle unrolls the
    identical rounds and hash-matches — which is exactly why this operator
    exposes σ rather than full betweenness: Brandes' dependency
    accumulation divides σ values (order-dependent floats), σ itself is
    exact. Same level-synchronous composite-key loop as
    ``bfs_distances_per_seed``: per hop one frontier⋈adjacency join, one
    map-side-combinable σ-sum, one anti-join; state ≤ |seeds|·|V| —
    and the same one-job-per-round fusion (non-eager frontier cut
    materialized by the round's count, settled as unioned per-hop
    pieces, early exit on an empty frontier; identical results).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if undirected:
        e = e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    adj = e.distinct().localCheckpoint()
    spark = edges.sparkSession
    nt = _node_type(seeds)
    settled = spark.createDataFrame(
        [(s, s, 0, 1) for s in seeds],
        f"seed {nt}, node {nt}, dist int, sigma long",
    ).localCheckpoint()
    pieces = [settled]
    frontier = settled
    for hop in range(1, max_hops + 1):
        cand = (
            adj.join(frontier.withColumnRenamed("node", "src").drop("dist"), "src")
            .groupBy("seed", F.col("dst").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        settled_u = functools.reduce(
            lambda a, b: a.unionByName(b),
            (p.select("seed", "node") for p in pieces),
        )
        frontier = (
            cand.join(settled_u, ["seed", "node"], "anti")
            .withColumn("dist", F.lit(hop))
            .localCheckpoint(eager=False)
        )
        if frontier.count() == 0:
            break
        pieces.append(frontier)
    return functools.reduce(lambda a, b: a.unionByName(b), pieces)


def harmonic_centrality_x(
    edges: DataFrame,
    seeds: list[str],
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    *,
    undirected: bool = True,
) -> DataFrame:
    """Sampled harmonic centrality, LCM-scaled to exact integers.

    ``harmonic_x(v) = Σ_{s∈seeds, s≠v, d(s,v)≤max_hops} LCM(1..max_hops)/d(s,v)``

    Harmonic centrality (the closeness variant that is well-defined on
    disconnected graphs) over a deterministic seed sample — the standard
    sampling estimator at graph scale. Summing float ``1/d`` terms is
    addition-order-dependent (the engine/oracle hash trap this repo's
    float-parity policy documents), so the sum is scaled by
    ``LCM(1..max_hops)``: every term is then an exact integer and the
    result is bit-identical across partitionings and engines. One
    per-seed BFS (see ``bfs_distances_per_seed``) + one map-side-
    combinable groupBy.
    """
    import math

    lcm = math.lcm(*range(1, max_hops + 1))
    d = bfs_distances_per_seed(
        edges, seeds, max_hops, src, dst, undirected=undirected
    )
    return (
        d.filter(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.sum(
                F.floor(F.lit(lcm) / F.col("dist")).cast("long")
            ).alias(f"harmonic_x{lcm}"),
            F.count(F.lit(1)).cast("long").alias("n_seeds_reached"),
        )
    )


def sssp_distances(
    edges: DataFrame,
    seeds: list[str],
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    *,
    undirected: bool = True,
) -> DataFrame:
    """WEIGHTED single/multi-source shortest paths → (node, dist).

    The weighted generalization of `bfs_distances` (and hence of the
    reference's k-hop proximity ranking,
    `/root/reference/src/mmkg_rag/retrieval/search.py:151-215`): when KG
    edges carry a cost (inverse relevance score, hop toll, latency), the
    retrieval seed-proximity question becomes a shortest-path problem, not
    a hop count. Fixed synchronous Bellman-Ford rounds: ``dist`` after R
    rounds is the exact min-weight path using ≤ R edges — a pure function
    of (graph, seeds, R), no convergence probe jobs.

    Unlike the unweighted BFS, a settled node CAN improve later, so the
    frontier is the DELTA set: nodes whose distance improved last round.
    A node whose distance did not change already propagated its (final)
    value the round after it last improved, and distances only decrease —
    so delta-relaxation produces the per-round-identical table to
    relax-everything, at frontier-sized joins instead of graph-sized ones.
    Per round: one frontier⋈adjacency join + one map-side-combinable
    min-groupBy + one outer merge against dist. Parallel edges collapse to
    their min weight once, up front; weights are exact BIGINTs so the
    DuckDB oracle unrolls the same R rounds as chained CTEs and
    hash-matches.
    """
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).cast("long").alias("w"),
    )
    if undirected:
        e = e.unionAll(
            e.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                F.col("w"),
            )
        )
    adj = e.groupBy("src", "dst").agg(F.min("w").alias("w")).localCheckpoint()
    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(s, 0) for s in seeds], f"node {_node_type(seeds)}, dist long"
    ).localCheckpoint()
    frontier = dist
    for r in range(1, rounds + 1):
        relaxed = (
            adj.join(
                frontier.withColumnRenamed("node", "src").withColumnRenamed(
                    "dist", "fdist"
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min(F.col("fdist") + F.col("w")).alias("cand"))
        )
        # one job per round (round-5 fusion): the merge gets a non-eager
        # cut that the frontier count materializes; dist/frontier read the
        # materialized blocks. An empty delta frontier is a fixed point —
        # every later round is a no-op — so the loop exits early with the
        # identical result.
        merged = (
            dist.join(relaxed, "node", "full_outer")
            .select(
                "node",
                # Spark's least() skips NULLs: new node → cand, unrelaxed → dist
                F.least(F.col("dist"), F.col("cand")).alias("new_dist"),
                F.col("dist").alias("old_dist"),
            )
            .localCheckpoint(eager=False)
        )
        frontier = merged.filter(
            F.col("old_dist").isNull() | (F.col("new_dist") < F.col("old_dist"))
        ).select("node", F.col("new_dist").alias("dist"))
        dist = merged.select("node", F.col("new_dist").alias("dist"))
        if frontier.count() == 0:
            break
    return dist


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst", *,
    rational: bool = False,
) -> DataFrame:
    """Degree assortativity coefficient of the undirected simple graph —
    Newman (2002): the Pearson correlation of the degrees at either end of
    an edge. Positive → hubs link to hubs (social graphs); negative → hubs
    link to leaves (the web, most KGs). THE one-number summary of whether
    head-entity skew concentrates (matters for partition planning: a
    disassortative KG's hot vertices are surrounded by cheap ones, so
    salting the hubs alone fixes the join).

    Exact-integer moments: degrees are BIGINT counts; every moment
    (Σx, Σx², Σxy over the DOUBLED directed edge list, where symmetry makes
    the x- and y-marginals identical) accumulates in DECIMAL(38,0) — no
    float summation anywhere, so the single final division is bit-stable
    across partitionings AND engines, and r =
    (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) needs only the one symmetric
    denominator. Three shuffles total (edge distinct, degree groupBy,
    2-row-ish final agg), all on well-distributed keys.

    Output: one row (n_nodes, n_edges, assortativity); with
    ``rational=True`` also the EXACT DECIMAL(38,0) numerator and
    denominator (r_num, r_den) of r — the engine-portable rational
    (HUGEINT in a DuckDB twin) for consumers that cannot tolerate even
    the one rounded float.
    """
    e = edges.select(
        F.least(F.col(src), F.col(dst)).alias("u"),
        F.greatest(F.col(src), F.col(dst)).alias("v"),
    ).filter(F.col("u") != F.col("v")).distinct()
    both = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    xy = (
        both.join(deg.withColumnRenamed("u", "_a").withColumnRenamed("d", "dx"), F.col("u") == F.col("_a"))
        .join(deg.withColumnRenamed("u", "_b").withColumnRenamed("d", "dy"), F.col("v") == F.col("_b"))
        .select(
            F.col("dx").cast("decimal(38,0)").alias("dx"),
            F.col("dy").cast("decimal(38,0)").alias("dy"),
        )
    )
    m = xy.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("dx").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")).cast(
        "decimal(38,0)"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "decimal(38,0)"
    )
    cols = [
        F.col("n_nodes").cast("bigint").alias("n_nodes"),
        (F.col("n") / 2).cast("bigint").alias("n_edges"),
    ]
    if rational:
        cols += [num.alias("r_num"), den.alias("r_den")]
    cols.append(
        # try_divide: a degree-regular graph has zero degree variance,
        # so r is mathematically undefined — return NULL, not a crash
        # (ANSI mode raises DIVIDE_BY_ZERO on plain /).
        F.round(
            F.try_divide(num.cast("double"), den.cast("double")), 6
        ).alias("assortativity")
    )
    return m.crossJoin(F.broadcast(nodes)).select(*cols)


def common_neighbor_pairs(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_wedge_degree: int = 32,
    k: int = 20,
) -> DataFrame:
    """Link prediction over a bipartite graph: top-``k`` (src, src) pairs
    ranked by common ``dst`` neighbors, with the Jaccard of their
    neighborhoods — "suppliers that serve the same customers", "hosts
    crawled by the same seeds", "entities sharing mention contexts".

    Candidate pairs are wedge-enumerated THROUGH the shared dst (one
    self-join of the per-dst adjacency, u < v dedupes each wedge once) —
    never an all-pairs src×src product. The quadratic risk is hub dsts:
    a dst with d sources spawns d(d−1)/2 wedges, so dsts with degree >
    ``max_wedge_degree`` are EXCLUDED from candidate generation — the
    standard blocking rule in record-linkage/link-prediction (a customer
    connected to everything carries no signal, exactly like a stopword in
    a prefix-filter join). The exclusion is part of the operator's
    declared semantics, applied identically in the oracle, and the number
    of excluded hubs is reported by the companion metrics query — never a
    silent cap. Wedge volume is bounded by Σ_dst min(deg, D)² — linear in
    the edge count for fixed D.

    Neighborhood degrees for the Jaccard DENOMINATOR still count ALL dsts
    (only candidate generation is blocked), attached by two joins against
    the degree table. Counts are exact integers; the Jaccard is one
    integer division per surviving pair. Final top-k is a TakeOrdered
    over |pairs| rows with a total (common, jaccard, u, v) order.

    Output: (u, v, common, deg_u, deg_v, jaccard) — top-k.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t")).distinct()
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    tdeg = e.groupBy("t").agg(F.count(F.lit(1)).alias("tdeg"))
    small = e.join(
        tdeg.filter(F.col("tdeg") <= max_wedge_degree).select("t"), "t"
    )
    a = small.select(F.col("t"), F.col("s").alias("u"))
    b = small.select(F.col("t"), F.col("s").alias("v"))
    wedges = a.join(b, "t").filter(F.col("u") < F.col("v"))
    pairs = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("common")
    )
    du = deg.select(F.col("s").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("s").alias("v"), F.col("deg").alias("deg_v"))
    scored = (
        pairs.join(du, "u")
        .join(dv, "v")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common").cast("double")
                / (F.col("deg_u") + F.col("deg_v") - F.col("common")).cast("double"),
                6,
            ),
        )
    )
    return scored.select(
        "u", "v", "common", F.col("deg_u").cast("bigint").alias("deg_u"),
        F.col("deg_v").cast("bigint").alias("deg_v"), "jaccard"
    ).orderBy(
        F.desc("common"), F.desc("jaccard"), "u", "v"
    ).limit(k)


def random_walks(
    edges: DataFrame,
    seeds: list,
    n_walks: int,
    n_steps: int,
    src: str = "src",
    dst: str = "dst",
    *,
    undirected: bool = True,
    salt: int = 42,
    broadcast_walks: int = 1_000_000,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Deterministic DeepWalk-style random-walk sampling →
    (seed, walk, step, node).

    The graph-sampling primitive behind node-embedding training (DeepWalk
    / node2vec with p = q = 1) and neighborhood-sketching: ``n_walks``
    walks of ``n_steps`` steps start at every seed, and each step moves to
    a uniformly *pseudo*-randomly chosen neighbor. The reference has no
    sampling operator (its retrieval expands FULL k-hop neighborhoods,
    search.py:151-215); at 10^9 nodes full expansion is the thing walks
    replace — bounded |seeds|·n_walks·n_steps output instead of the
    neighborhood's exponential growth.

    Determinism: the "random" choice is a pure hash draw — neighbor index
    = H(seed, walk, salt, step, current) mod degree, H = first 8 hex chars
    of md5 — so the walk table is bit-identical across partitionings,
    cluster sizes, and engines (the md5 draw is the same cross-engine
    uniform primitive the sampling operators use), and a DuckDB oracle
    unrolls the same steps as chained CTEs and hash-matches. Re-running a
    walk never changes it: resumable by construction.

    Scale shape: the adjacency is materialized ONCE with per-source
    neighbor positions (one row_number window over (src, dst) — the same
    shuffle any adjacency build pays) and degrees; each step is then two
    equi-joins of the walk state against those static tables. State is
    exactly |seeds|·n_walks rows at every step — while that is under
    ``broadcast_walks`` the state side is broadcast and the graph never
    moves; past it (walks from EVERY node, the embedding-training regime)
    the joins fall back to hash joins co-partitioned on the adjacency's
    key, which is the per-step shuffle a real cluster wants. Walk-id
    skew is impossible by construction (the state key is unique).
    """
    from pyspark.sql import Window

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if undirected:
        e = e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    adj = e.distinct()
    wpos = Window.partitionBy("src").orderBy("dst")
    nbrs = adj.select(
        "src", "dst", (F.row_number().over(wpos) - 1).alias("pos")
    ).localCheckpoint()
    deg = nbrs.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    spark = edges.sparkSession
    nt = _node_type(seeds)
    state = spark.createDataFrame(
        [(s, w, s, 0) for s in seeds for w in range(n_walks)],
        f"seed {nt}, walk int, node {nt}, step int",
    ).localCheckpoint()
    small = len(seeds) * n_walks <= broadcast_walks
    out = state
    for t in range(1, n_steps + 1):
        draw = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("seed").cast("string"),
                        F.col("walk").cast("string"),
                        F.lit(str(salt)),
                        F.lit(str(t)),
                        F.col("src").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        cur = state.select("seed", "walk", F.col("node").alias("src"))
        picked = (
            deg.join(F.broadcast(cur) if small else cur, "src")
            .withColumn("pos", draw % F.col("deg"))
        )
        state = (
            nbrs.join(
                F.broadcast(picked.select("seed", "walk", "src", "pos"))
                if small
                else picked.select("seed", "walk", "src", "pos"),
                ["src", "pos"],
            )
            .select("seed", "walk", F.col("dst").alias("node"))
            .withColumn("step", F.lit(t))
        )
        out = out.unionByName(state)
        if t % checkpoint_every == 0 and t < n_steps:
            state = state.localCheckpoint()
            out = out.localCheckpoint()
    return out.select("seed", "walk", "step", "node")


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 3,
    broadcast_nodes: int = 1_000_000,
    checkpoint_every: int = 2,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) → (node, hub, authority).

    The DIRECTED complement of `pagerank` for bipartite-flavoured KG edges
    (customer→supplier, page→entity, citer→cited): an authority is pointed
    at by good hubs, a hub points at good authorities. The reference has no
    centrality at all (its nearest analogue is degree-sorted GUI listings);
    at crawl scale both roles seed retrieval from opposite ends of an edge.

    Deliberately UNNORMALIZED with a fixed iteration count: the classical
    per-step L2 normalization is a positive scalar, so it never changes the
    ranking within an iteration — dropping it makes every value in the
    recurrence an exact integer

        hub_0(v)    = 1
        auth_i(v)   = sum over edges u->v of hub_{i-1}(u)
        hub_i(u)    = sum over edges u->v of auth_i(v)

    computed in DECIMAL(38,0) (values grow like (d_in·d_out)^k — past
    BIGINT at corpus scale, bounded by 10^38 for any graph this engine
    meets at k=3), so the result is bit-identical across partitionings and
    engines and a DuckDB oracle can unroll the same k rounds as chained
    CTEs. Scale shape: per iteration exactly TWO edge-keyed shuffles (one
    per direction), each a join of the vertex-sized score table against the
    static adjacency (broadcast while ≤ ``broadcast_nodes``) feeding a
    map-side-combinable sum; nodes on one side only (pure hubs / pure
    authorities) keep score 0 on the other axis via the outer re-attach.
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    small = nodes.count() <= broadcast_nodes
    d38 = "decimal(38,0)"
    hub = nodes.select("node", F.lit(1).cast(d38).alias("hub"))
    auth = None
    for i in range(1, iterations + 1):
        h = F.broadcast(hub) if small else hub
        auth = (
            e.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").cast(d38).alias("authority"))
        )
        a = F.broadcast(auth) if small else auth
        hub = (
            e.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("authority").cast(d38).alias("hub"))
        )
        if i % checkpoint_every == 0 and i < iterations:
            hub = hub.localCheckpoint()
            auth = auth.localCheckpoint()
    zero = F.lit(0).cast(d38)
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce("hub", zero).alias("hub"),
            F.coalesce("authority", zero).alias("authority"),
        )
    )


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_rounds: int = 50,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph → (node, scc_id),
    scc_id = min node id in the component.

    The directed closure primitive `functions/components.py` (weak CC — the
    entity-merge step) cannot answer: mutual reachability. On a crawl-scale
    link or citation graph the giant SCC vs IN/OUT decomposition (the
    bow-tie) is the first structural question, and cycles of KG relations
    (A acquires B acquires A across snapshots) surface as non-singleton
    SCCs.

    Algorithm: iterative trim + forward-coloring + backward match — the
    coloring algorithm of Orzan (2004) as used by every Pregel-style SCC
    implementation, min-label variant, fully deterministic:

      1. TRIM: repeatedly peel nodes with no in-edges or no out-edges
         within the active subgraph — each is its own SCC.
      2. COLOR: propagate c(v) = min(v, min over u->v of c(u)) to a
         fixpoint; each color class is closed under forward reachability
         from its root r (with c(r) = r).
      3. MATCH: within each color, nodes that reach their root BACKWARD
         (propagated from the roots along reversed edges, never crossing a
         color boundary) are exactly SCC(root). Assign and deactivate.

    Every outer round removes at least every current root's full SCC, so
    the loop terminates; rounds ~ O(log n) on web-shaped graphs (trimming
    handles the long singleton chains that are coloring's worst case).
    Fixpoint loops probe convergence with a frontier count — O(1) rows to
    the driver per step, same policy as `functions/components`. Raises
    RuntimeError if ``max_rounds`` is exhausted (diagnosable, never a
    silently-partial answer).
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .distinct()
        .localCheckpoint()
    )
    spark = edges.sparkSession
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    node_t = dict(nodes.dtypes)["node"]
    assigned = spark.createDataFrame([], f"node {node_t}, scc_id {node_t}")

    active_e = e
    active_n = nodes
    for _ in range(max_rounds):
        # 1. TRIM sources/sinks (self-loop nodes are never trimmed: a
        # self-loop gives the node both an in- and an out-edge).
        while True:
            has_out = active_e.select(F.col("src").alias("node")).distinct()
            has_in = active_e.select(F.col("dst").alias("node")).distinct()
            keep = has_out.intersect(has_in).localCheckpoint()
            trimmed = active_n.join(keep, "node", "left_anti")
            if trimmed.isEmpty():
                break
            assigned = assigned.unionByName(
                trimmed.select("node", F.col("node").alias("scc_id"))
            ).localCheckpoint()
            active_n = active_n.join(keep, "node", "semi").localCheckpoint()
            active_e = (
                active_e.join(
                    keep.withColumnRenamed("node", "src"), "src", "semi"
                )
                .join(keep.withColumnRenamed("node", "dst"), "dst", "semi")
                .localCheckpoint()
            )
        if active_n.isEmpty():
            break
        # 2. COLOR: forward min-label fixpoint.
        color = active_n.select("node", F.col("node").alias("c"))
        step = 0
        while True:
            step += 1
            pushed = (
                active_e.join(
                    color.withColumnRenamed("node", "src").withColumnRenamed(
                        "c", "cs"
                    ),
                    "src",
                )
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("cs").alias("cand"))
            )
            merged = color.join(pushed, "node", "left").select(
                "node",
                F.least(F.col("c"), F.col("cand")).alias("new_c"),
                F.col("c").alias("old_c"),
            )
            changed = merged.filter(F.col("new_c") < F.col("old_c")).count()
            color = merged.select("node", F.col("new_c").alias("c"))
            if step % checkpoint_every == 0:
                color = color.localCheckpoint()
            if changed == 0:
                break
        color = color.localCheckpoint()
        # 3. MATCH: backward reachability from each color root, within color.
        ce = (
            active_e.join(color.withColumnRenamed("node", "src"), "src")
            .withColumnRenamed("c", "c_src")
            .join(
                color.withColumnRenamed("node", "dst").withColumnRenamed(
                    "c", "c_dst"
                ),
                "dst",
            )
            .filter(F.col("c_src") == F.col("c_dst"))
            .select("src", "dst", F.col("c_src").alias("c"))
            .localCheckpoint()
        )
        matched = color.filter(F.col("node") == F.col("c")).select("node", "c")
        frontier = matched
        while True:
            grown = (
                ce.join(
                    frontier.withColumnRenamed("node", "dst").drop("c"), "dst"
                )
                .select(F.col("src").alias("node"), "c")
                .distinct()
                .join(matched, "node", "left_anti")
                .localCheckpoint()
            )
            if grown.isEmpty():
                break
            matched = matched.unionByName(grown).localCheckpoint()
            frontier = grown
        assigned = assigned.unionByName(
            matched.select("node", F.col("c").alias("scc_id"))
        ).localCheckpoint()
        active_n = active_n.join(matched, "node", "left_anti").localCheckpoint()
        if active_n.isEmpty():
            break
        active_e = (
            active_e.join(
                active_n.withColumnRenamed("node", "src"), "src", "semi"
            )
            .join(active_n.withColumnRenamed("node", "dst"), "dst", "semi")
            .localCheckpoint()
        )
    else:
        raise RuntimeError(
            f"SCC did not converge within {max_rounds} rounds "
            f"({active_n.count()} nodes still active)"
        )
    return assigned


def maximal_independent_set(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    rounds: int = 8,
) -> DataFrame:
    """Luby-style maximal independent set → (node, state), state ∈
    {'in', 'out', 'undecided'}.

    MIS is THE parallel conflict-resolution primitive: a set of mutually
    non-adjacent nodes such that every other node has a neighbor in the
    set. In this engine's domain it schedules parallel entity merges (two
    merge candidates sharing an entity must not both proceed) and picks
    non-overlapping representatives in dedup graphs.

    Luby's algorithm with the repo's determinism contract: the random
    priority is ``md5(node)`` — a uniform, engine-portable draw (same hex
    in Spark and DuckDB), not rand(). Per round, an active node enters
    the MIS iff its priority strictly precedes every active neighbor's
    (hex ties are impossible: md5 is injective on the distinct node
    strings for all practical purposes, and a collision would only make
    both nodes wait a round); MIS nodes' neighbors leave as 'out'.
    Each round is ONE neighbor-min groupBy against the shrinking active
    adjacency plus two semi/anti joins — no window, no node-sized
    collect. Isolated active nodes (all neighbors decided) have no
    surviving neighbor rows and enter immediately.

    Round cost is TWO Spark jobs, not six: the round's decisions
    ('in' ∪ 'out', provably disjoint — two adjacent winners would need
    pri(u) < pri(v) < pri(u)) are checkpointed once, then a single
    ≤2-row ``groupBy(state).count()`` collect answers BOTH break
    conditions — zero winners, and zero remaining actives via a
    driver-side running count (actives only ever leave, so
    n_active −= |decisions| is exact). The shrinking frontier uses
    non-eager lineage cuts (``localCheckpoint(eager=False)``)
    materialized inside the next round's first job, and the decided set
    is unioned from the per-round checkpointed pieces only at the end —
    no per-round decided-union job.

    FIXED round count, so the result is a pure function of (graph,
    rounds) that a DuckDB oracle can unroll — Luby decides all nodes in
    O(log n) rounds with overwhelming probability, and any remainder is
    an explicit 'undecided' row, never a silently-partial answer
    (disclosed-cap rule). Undirected: edges are symmetrized.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = (
        e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = e.select(F.col("src").alias("node")).distinct().localCheckpoint()
    pri = F.md5(F.col("node").cast("string"))

    spark = edges.sparkSession
    node_t = dict(nodes.dtypes)["node"]
    decided_parts = [spark.createDataFrame([], f"node {node_t}, state string")]
    active_n = nodes
    active_e = e
    n_active = nodes.count()
    for _ in range(rounds):
        if n_active == 0:
            break
        nbr_min = (
            active_e.withColumn("p_dst", F.md5(F.col("dst").cast("string")))
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("p_dst").alias("nmin"))
        )
        winners = (
            active_n.join(nbr_min, "node", "left")
            .filter(F.col("nmin").isNull() | (pri < F.col("nmin")))
            .select("node")
        )
        killed = (
            active_e.join(
                winners.withColumnRenamed("node", "src"), "src", "semi"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        progress = (
            winners.select("node", F.lit("in").alias("state"))
            .unionByName(killed.select("node", F.lit("out").alias("state")))
            .localCheckpoint()
        )
        counts = {
            r["state"]: r["count"]
            for r in progress.groupBy("state").count().collect()
        }
        if counts.get("in", 0) == 0:
            break
        decided_parts.append(progress)
        n_active -= sum(counts.values())
        if n_active == 0:
            active_n = active_n.limit(0)
            break
        active_n = active_n.join(
            progress.select("node"), "node", "left_anti"
        ).localCheckpoint(eager=False)
        active_e = (
            active_e.join(
                active_n.withColumnRenamed("node", "src"), "src", "semi"
            )
            .join(active_n.withColumnRenamed("node", "dst"), "dst", "semi")
            .localCheckpoint(eager=False)
        )
    decided = functools.reduce(lambda a, b: a.unionByName(b), decided_parts)
    return decided.unionByName(
        active_n.select("node", F.lit("undecided").alias("state"))
    )


def temporal_reachability(
    edges: DataFrame,
    seeds: list,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    ts: str = "ts",
    *,
    start: int = 0,
) -> DataFrame:
    """Time-respecting reachability → (node, arrival): the earliest time
    each node can be reached from the seeds along paths whose edge
    timestamps never go backwards (edge (u, v, t) is traversable iff
    t ≥ arrival(u); traversing it sets arrival(v) ≤ t).

    Static reachability over-claims on temporal graphs — an edge that
    fired BEFORE you arrived is not a path (information-flow, citation,
    crawl-recrawl and transaction graphs are all temporal). This is the
    min-arrival fixed-round recurrence (Wu et al., VLDB'14 single-pass
    semantics, expressed synchronously):

        arr_0(seed) = start
        arr_i(v)    = min(arr_{i-1}(v),
                          min over edges (u, v, t) with t ≥ arr_{i-1}(u)
                              of t)

    Same scale shape as `sssp_distances` (arrival is monotone
    non-increasing, so the DELTA frontier — only nodes whose arrival
    improved last round — relaxes per-round-identically to
    relax-everything): one frontier⋈temporal-adjacency join with the
    time predicate fused, one map-side-combinable min-groupBy, one outer
    merge per round. Temporal edges are deduplicated as (src, dst, ts)
    TRIPLES — parallel edges at different times are distinct and all
    kept, since which one is usable depends on the arrival time. Exact
    BIGINT epochs, so the DuckDB oracle unrolls the same rounds as
    chained CTEs and hash-matches.
    """
    e = (
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(ts).cast("long").alias("ts"),
        )
        .distinct()
        .localCheckpoint()
    )
    spark = edges.sparkSession
    arr = spark.createDataFrame(
        [(s, start) for s in seeds],
        f"node {_node_type(seeds)}, arrival long",
    ).localCheckpoint()
    frontier = arr
    for r in range(1, rounds + 1):
        relaxed = (
            e.join(
                frontier.withColumnRenamed("node", "src").withColumnRenamed(
                    "arrival", "fa"
                ),
                "src",
            )
            .filter(F.col("ts") >= F.col("fa"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("ts").alias("cand"))
        )
        # same one-job-per-round fusion as sssp_distances: non-eager
        # merge cut materialized by the frontier count; empty delta
        # frontier = fixed point, early exit with identical result.
        merged = (
            arr.join(relaxed, "node", "full_outer")
            .select(
                "node",
                F.least(F.col("arrival"), F.col("cand")).alias("new_a"),
                F.col("arrival").alias("old_a"),
            )
            .localCheckpoint(eager=False)
        )
        frontier = merged.filter(
            F.col("old_a").isNull() | (F.col("new_a") < F.col("old_a"))
        ).select("node", F.col("new_a").alias("arrival"))
        arr = merged.select("node", F.col("new_a").alias("arrival"))
        if frontier.count() == 0:
            break
    return arr


def attribute_modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    label: str = "label",
) -> DataFrame:
    """Newman modularity Q of an ATTRIBUTE partition — exact rational.

    Given an undirected simple graph (canonical pair list: src < dst,
    distinct — the part_components contract) and a node→label table, Q
    measures how much more intra-label edge mass exists than a degree-
    preserving random rewiring would give:

        Q = Σ_c [ e_c/m − (d_c/(2m))² ]
          = (4m·Σ_c e_c − Σ_c d_c²) / (4m²)

    with m = |E|, e_c = within-label edges, d_c = degree mass of label c.
    The community-detection twins (LPA/CC) already exist as operators;
    this is the QUALITY functional — over attribute partitions it is the
    standard homophily/assortativity-by-category statistic (Newman 2003),
    the KG-build question "do same-brand/-type/-domain entities actually
    link to each other?".

    Exactness: numerator and denominator are exact BIGINTs (m = Σd_c/2 is
    derived inside the same aggregate — no separate count() action), the
    only float is the final division. One row out:
    (n_edges, n_communities, q_num, q_den, q). Shuffles: the two label
    joins (dimension-sized right side), one per-label aggregate, one
    global fold — no iteration, no window.
    """
    lab = labels.select(F.col(node).alias("_n"), F.col(label).alias("_l"))
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    e2 = (
        e.join(lab.withColumnRenamed("_n", "_s").withColumnRenamed("_l", "_la"), "_s")
        .join(lab.withColumnRenamed("_n", "_d").withColumnRenamed("_l", "_lb"), "_d")
    )
    within = (
        e2.filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("_l"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    deg = (
        e.select(F.col("_s").alias("_n"))
        .unionAll(e.select(F.col("_d").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("deg"))
        .join(lab, "_n")
        .groupBy("_l")
        .agg(F.sum("deg").cast("long").alias("d_c"))
    )
    per = deg.join(within, "_l", "left").select(
        "_l",
        F.col("d_c"),
        F.coalesce(F.col("e_c"), F.lit(0)).cast("long").alias("e_c"),
    )
    agg = per.agg(
        (F.sum("d_c") / 2).cast("long").alias("m"),
        F.sum("e_c").cast("long").alias("e_within"),
        F.sum(F.col("d_c") * F.col("d_c")).cast("long").alias("dc_sq"),
        F.count(F.lit(1)).alias("n_communities"),
    )
    return agg.select(
        F.col("m").alias("n_edges"),
        "n_communities",
        (4 * F.col("m") * F.col("e_within") - F.col("dc_sq"))
        .cast("long")
        .alias("q_num"),
        (4 * F.col("m") * F.col("m")).cast("long").alias("q_den"),
        F.round(
            F.try_divide(
                (4 * F.col("m") * F.col("e_within") - F.col("dc_sq")).cast(
                    "double"
                ),
                (4 * F.col("m") * F.col("m")).cast("double"),
            ),
            6,
        ).alias("q"),
    )


def butterfly_counts(
    edges: DataFrame,
    left: str = "src",
    right: str = "dst",
) -> DataFrame:
    """Bipartite butterfly (2×2 biclique) census → one row
    (n_left, n_right, n_edges, n_wedges, n_butterflies).

    The butterfly is the bipartite analogue of the triangle (Wang et
    al., VLDB'14; Sanei-Mehri et al., KDD'18): two left vertices both
    connected to the same two right vertices. Butterfly density is THE
    cohesion signal for bipartite KG layers (supplier×part,
    entity×document, author×page): random bipartite graphs have almost
    none, co-behavior structure has many.

    Count without materializing 4-tuples: join the (distinct) edge list
    with itself on the RIGHT key to enumerate left-pair wedges, count
    wedges per left pair c(u1, u2), then Σ C(c, 2) — every butterfly is
    exactly one pair of wedges on the same left pair. n_wedges (the
    "caterpillar" count Σ_r C(d_r, 2)) falls out of the same wedge
    stream for free. All exact BIGINTs.

    Skew: the per-right-vertex pair fan-out is C(d_r, 2) — bounded by
    the natural right-side degree (suppliers per part here). For
    web-scale bipartite graphs with unbounded hubs, apply the same
    vertex-priority orientation as triangle_counts (enumerate wedges
    only from each right vertex's lower-priority side) or cap d_r with
    a disclosed sample; this operator takes the exact path and
    DISCLOSES the max fan-out in the plan contract rather than
    silently sampling.
    """
    e = edges.select(
        F.col(left).alias("l"), F.col(right).alias("r")
    ).distinct().localCheckpoint()
    e2 = e.withColumnRenamed("l", "l2")
    wedges = (
        e.join(e2, "r")
        .where(F.col("l") < F.col("l2"))
        .groupBy("l", "l2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = wedges.agg(
        F.sum("c").cast("long").alias("n_wedges"),
        F.sum(F.expr("c * (c - 1) div 2")).cast("long").alias(
            "n_butterflies"
        ),
    )
    sides = e.agg(
        F.countDistinct("l").alias("n_left"),
        F.countDistinct("r").alias("n_right"),
        F.count(F.lit(1)).alias("n_edges"),
    )
    return sides.crossJoin(F.broadcast(stats)).select(
        "n_left", "n_right", "n_edges", "n_wedges", "n_butterflies"
    )


def modularity_move(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    label: str = "label",
    *,
    rounds: int = 1,
) -> DataFrame:
    """Synchronous modularity-greedy label moves (Louvain phase-1 rounds)
    over an undirected simple graph (canonical src < dst pair list).

    Each round, EVERY node simultaneously adopts the community that
    maximizes its modularity gain among {its own, its neighbors'}.
    Standard Louvain removes the node first, so with m = |E|, k_i the
    node degree, k_{i,c} its edge count into community c, and Σtot_c the
    community degree mass, the candidate ranking reduces (dropping terms
    constant across candidates and the positive factor 1/(2m²)) to the
    EXACT BIGINT score

        score(c) = 2m·k_{i,c} − (Σtot_c − [c = cur]·k_i)·k_i

    — no floats anywhere, so the argmax is engine-portable. Ties break
    to the current community, then the smallest label (deterministic,
    and keeps fixed points stable). LPA is this recurrence with the
    frequency objective; this is the QUALITY-objective refinement step,
    the standard improve-on-LPA/attribute-partition move. Synchronous
    rounds are a pure function of (graph, labels, rounds) — the same
    oracle-unrollable contract as lpa/mis — at the known cost that
    oscillation can keep some pairs swapping; a FIXED round count plus
    the stay-on-tie rule makes that an explicit, reproducible outcome,
    never a convergence-dependent one.

    Per round: one neighbor-label join, two label-sized aggregates, one
    per-node argmax window (partitioned by node — parallel). The degree
    table and 1-row edge-count broadcast are computed once. Returns
    (node, label) for every node in the adjacency; isolated nodes (in
    ``labels`` but no edges) are the caller's to keep — they never move.
    """
    from pyspark.sql import Window

    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    sym = e.unionAll(
        e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
    ).localCheckpoint()
    deg = sym.groupBy(F.col("_s").alias("_n")).agg(
        F.count(F.lit(1)).cast("long").alias("_k")
    ).localCheckpoint()
    m_row = deg.agg((F.sum("_k") / 2).cast("long").alias("_m"))
    lab = (
        labels.select(F.col(node).alias("_n"), F.col(label).alias("_l"))
        .join(deg.select("_n"), "_n", "semi")
        .localCheckpoint()
    )
    for _ in range(rounds):
        tot = (
            lab.join(deg, "_n")
            .groupBy("_l")
            .agg(F.sum("_k").cast("long").alias("_tot"))
        )
        nbr = (
            sym.join(
                lab.select(
                    F.col("_n").alias("_d"), F.col("_l").alias("_c")
                ),
                "_d",
            )
            .groupBy(F.col("_s").alias("_n"), "_c")
            .agg(F.count(F.lit(1)).cast("long").alias("_kic"))
        )
        cands = nbr.unionByName(
            lab.select("_n", F.col("_l").alias("_c"), F.lit(0).cast("long").alias("_kic"))
        ).groupBy("_n", "_c").agg(F.max("_kic").alias("_kic"))
        scored = (
            cands.join(lab, "_n")
            .join(deg, "_n")
            .join(tot.withColumnRenamed("_l", "_c"), "_c")
            .crossJoin(F.broadcast(m_row))
            .select(
                "_n",
                "_c",
                (F.col("_c") == F.col("_l")).cast("int").alias("_cur"),
                (
                    2 * F.col("_m") * F.col("_kic")
                    - (
                        F.col("_tot")
                        - F.when(F.col("_c") == F.col("_l"), F.col("_k"))
                        .otherwise(F.lit(0))
                    )
                    * F.col("_k")
                ).cast("long").alias("_score"),
            )
        )
        w = Window.partitionBy("_n").orderBy(
            F.col("_score").desc(), F.col("_cur").desc(), F.col("_c").asc()
        )
        lab = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("_n", F.col("_c").alias("_l"))
            .localCheckpoint()
        )
    return lab.select(F.col("_n").alias(node), F.col("_l").alias(label))


def wl_refinement(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    rounds: int = 3,
    broadcast_nodes: int = 1_000_000,
) -> DataFrame:
    """1-dimensional Weisfeiler-Lehman color refinement (fixed rounds)
    over the undirected simple graph — the structural-role fingerprint
    behind graph-isomorphism tests, WL graph kernels (Shervashidze
    JMLR'11) and structural role discovery. Two nodes share a round-R
    color iff their R-hop neighborhood trees agree, so the color
    histogram is a canonical structural signature of the graph and the
    per-node colors split a KG's entities into automorphism-respecting
    role classes (leaf suppliers vs hub parts vs bridge customers)
    without any feature engineering. The reference has no counterpart
    (its graph is consumed only by retrieval, src/mmkg_rag/retrieval/
    search.py:151-215); this is the analysis layer a production KG adds.

    Color recurrence, engine-exact: c_0 = CAST(degree AS STRING);
    c_{i+1}(v) = md5(c_i(v) || '|' || join_{','}(sort(multiset of
    "c_i(u):count" over neighbor colors u∈N(v)))). Everything is
    integer counts, binary-lexicographic string sorts, and md5 — no
    floats, so a DuckDB twin replaying the same recurrence (list_sort +
    array_to_string + md5) hash-matches bit-for-bit.

    Scale shape (100 TB): the neighbor-color gather is ONE equi-join of
    the symmetric edge list with the node-sized color table plus ONE
    map-side-combinable (node, color) count per round — the signature
    array per node is bounded by the count of DISTINCT neighbor colors
    (≤ degree, typically ≪ degree once colors refine), never by raw
    degree, and the (node,color) pre-aggregation means a Wikipedia-class
    hub ships one row per distinct neighbor color, not one per edge.
    For graphs whose hubs still see millions of distinct colors, the
    documented degradation path is a commutative 64-bit hash
    accumulator (sum of xxhash64(color:count) mod 2^64) replacing the
    sorted join — weaker than true WL but collision-bounded; not needed
    at any tested scale. Colors are checkpointed per round (bounded
    lineage), rounds fixed (pure function of graph + rounds).

    Returns (node, color) for every non-isolated node.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = e.unionAll(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    colors = (
        sym.groupBy(F.col("a").alias("_n"))
        .agg(F.count(F.lit(1)).cast("long").alias("_deg"))
        .select("_n", F.col("_deg").cast("string").alias("_c"))
        .localCheckpoint()
    )
    # the color table is vertex-sized: broadcast the per-round join while
    # it fits (one count, same rule as kcore/bfs), else join on sym's
    # partitioning — checkpointed DFs report sizes that defeat AQE's own
    # broadcast pick, so the hint is load-bearing
    small = colors.count() <= broadcast_nodes
    for _ in range(rounds):
        cside = colors.select(F.col("_n").alias("b"), F.col("_c").alias("_nc"))
        nbr = (
            sym.join(
                F.broadcast(cside) if small else cside,
                "b",
            )
            .groupBy(F.col("a").alias("_n"), "_nc")
            .agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
        )
        sig = (
            nbr.select(
                "_n", F.concat_ws(":", "_nc", F.col("_cnt").cast("string")).alias("_p")
            )
            .groupBy("_n")
            .agg(
                F.concat_ws(",", F.array_sort(F.collect_list("_p"))).alias("_sig")
            )
        )
        colors = (
            sig.join(colors, "_n")
            .select("_n", F.md5(F.concat_ws("|", "_c", "_sig")).alias("_c"))
            # non-eager: the lineage cut materializes inside the NEXT
            # round's join job (or the final action), saving one
            # vertex-sized checkpoint job per round — same fusion as the
            # MIS/BFS loops; each round's colors have exactly one consumer
            .localCheckpoint(eager=False)
        )
    return colors.select(F.col("_n").alias("node"), F.col("_c").alias("color"))


def quotient_graph(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    label: str = "label",
) -> DataFrame:
    """Community contraction (quotient graph): collapse every node to
    its community label and count the distinct underlying edges between
    each unordered label pair — the hierarchy step GraphRAG-style
    pipelines run after community detection (communities become
    super-nodes; the quotient's edges say which communities to
    summarize together next level up). Self-pairs (comm_a = comm_b) are
    the intra-community edge mass — the modularity numerator.

    Scale shape (100 TB): the input edge set is deduped once (one
    shuffle on the canonical pair), then TWO equi-joins against the
    node-sized label table (broadcast when the vertex table fits,
    otherwise shuffled on the endpoint key with AQE skew-split handling
    Wikipedia-class hubs), and ONE map-side-combinable (comm_a, comm_b)
    count whose key space is |communities|² at worst — communities are
    the aggregate, so the output is orders smaller than the input.
    Exact integers end-to-end; label assignment is the caller's
    (deterministic LPA makes the whole composition a pure function of
    the graph).

    Returns (comm_a, comm_b, n_edges) with comm_a <= comm_b.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    la = labels.select(F.col(node).alias("a"), F.col(label).alias("_la"))
    lb = labels.select(F.col(node).alias("b"), F.col(label).alias("_lb"))
    j = e.join(la, "a").join(lb, "b")
    return (
        j.select(
            F.least("_la", "_lb").alias("comm_a"),
            F.greatest("_la", "_lb").alias("comm_b"),
        )
        .groupBy("comm_a", "comm_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )


def mutual_topk_edges(
    edges: DataFrame,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Mutual top-k graph sparsification: keep an undirected weighted
    edge only when EACH endpoint ranks the other among its k strongest
    neighbors — the 'mutual best friends' filter (mutual-kNN graph)
    that strips hub-induced incidental edges from a noisy KG layer
    before community detection: a Wikipedia-class hub is in everyone's
    neighbor list, but only its genuinely associated nodes are in ITS
    top-k, so one-sided hub edges drop.

    Input is canonicalized first — (least, greatest) orientation,
    duplicates merged by MAX weight — so a caller that supplies both
    orientations of an undirected edge (or repeated rows) cannot burn
    extra top-k slots or double-emit a surviving edge; on one-row-per-
    undirected-edge input the canonicalization is a no-op and the
    oracle twin (which assumes that well-formed shape) is unchanged.

    Ranking is exact and total: per node by (weight DESC, neighbor
    ASC) over the symmetrized adjacency — integer weights, so the twin
    replays it verbatim. One shuffle builds the symmetric list, one
    per-node window ranks it (parallel across nodes; a single node's
    list sorts in one task — bounded by max degree, with the standard
    pre-threshold w ≥ θ cut as the documented remedy for 10^8-degree
    extremes), and the mutuality test is a self-semi-join of the
    directed top-k set on the reversed pair — top-k-sized, k·|V| rows
    at most, uniform keys.

    Returns (a, b, w, rank_ab, rank_ba) with a < b: the surviving
    canonical edges plus each side's rank of the other.
    """
    from pyspark.sql import Window

    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
            F.col(weight).cast("long").alias("w"),
        )
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.max("w").alias("w"))
    )
    sym = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b"), "w"))
    wn = Window.partitionBy("a").orderBy(F.desc("w"), F.asc("b"))
    topk = (
        sym.withColumn("_rk", F.row_number().over(wn))
        .filter(F.col("_rk") <= k)
        .localCheckpoint()
    )
    rev = topk.select(
        F.col("b").alias("a"), F.col("a").alias("b"),
        F.col("_rk").alias("_rk_rev"),
    )
    mutual = topk.join(rev, ["a", "b"])
    return (
        mutual.where(F.col("a") < F.col("b"))
        .select(
            "a", "b", "w",
            F.col("_rk").cast("long").alias("rank_ab"),
            F.col("_rk_rev").cast("long").alias("rank_ba"),
        )
    )


def negative_edge_samples(
    edges: DataFrame,
    n_neg: int = 2,
    seed: int = 42,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Filtered negative sampling for KG-embedding training (the
    corrupted-triple generator of TransE and successors, Bordes
    NeurIPS'13): for every positive edge (s, t) emit ``n_neg``
    candidate corruptions (s, t′) with t′ drawn from the tail-entity
    set, then FILTER out candidates that are themselves positives —
    the 'filtered' protocol that keeps false negatives out of the
    training signal. Candidates that collide with a positive are
    dropped, not re-drawn (declared semantics; the per-positive output
    count varies accordingly, exactly as in standard KGE samplers).

    Determinism at any scale: the draw for (s, t, i) is
    conv(md5(s|t|i|seed)[1:15], 16, 10) mod |tails| — a pure function
    of the triple and seed (the same partition-invariant md5-draw
    contract as curation.uniform_ppm; Spark conv(hex,16,10) ≡ DuckDB
    CAST('0x'||hex AS BIGINT)), never rand()'s partition-dependent
    stream. Tail indices come from functions/ranks.global_row_numbers
    — the two-phase PARALLEL range shuffle, so the entity indexing
    never funnels through one task even at 10^9 vertices.

    Scale shape: candidates are |E|·n_neg rows built map-side from an
    in-row sequence explode; the index join is an equi-join against
    the vertex-sized tail table; the filter is ONE anti-join back on
    the (s, t′) pair — uniform keys, no skew (the md5 draw spreads
    tails uniformly regardless of head hubs). |tails| attaches as a
    1-row broadcast (lazy — no build-time job).

    Returns (s, t_pos, i, t_neg) for surviving corruptions.
    """
    from ..functions.ranks import global_row_numbers

    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .distinct()
        .localCheckpoint()
    )
    tails = global_row_numbers(
        e.select("t").distinct(), ["t"], rank_col="_rk"
    ).select(F.col("t").alias("t_neg"), F.col("_rk").alias("_idx"), "n_total")
    n_row = F.broadcast(tails.groupBy().agg(F.max("n_total").alias("_nt")))
    cands = (
        e.crossJoin(n_row)
        .select(
            "s",
            "t",
            F.explode(F.sequence(F.lit(1), F.lit(n_neg))).alias("i"),
            F.col("_nt"),
        )
        .withColumn(
            "_h",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.col("s").cast("string"),
                            F.col("t").cast("string"),
                            F.col("i").cast("string"),
                            F.lit(str(seed)),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
        )
        .withColumn("_idx", (F.col("_h") % F.col("_nt")) + 1)
    )
    joined = cands.join(tails.select("t_neg", "_idx"), "_idx").select(
        "s", F.col("t").alias("t_pos"), "i", "t_neg"
    )
    return joined.join(
        e.select(F.col("s"), F.col("t").alias("t_neg")),
        ["s", "t_neg"],
        "left_anti",
    )


def pseudo_diameter(
    edges: DataFrame,
    max_hops: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Pseudo-diameter via the classic double BFS sweep (the 2-sweep
    lower bound every graph library ships as its diameter estimate,
    exact on trees): BFS from the smallest-id node, take the farthest
    node reached (ties to smallest id), BFS again from there — the
    second eccentricity is a certified diameter LOWER bound from two
    linear-work passes, vs the O(n·m) all-pairs truth. The KG health
    metric behind 'how many hops does retrieval need': k-hop expansion
    budgets (reference search.py's cutoff=max_hop) are calibrated
    against exactly this number.

    Fully declarative: both sweeps run graph.bfs_distances with fixed
    ``max_hops`` rounds (pure function of graph + hops — the unrolled
    oracle replays it); the start node, the turn node and the far node
    are 1-row aggregates/limits composed by broadcast crossJoins, so
    nothing data-dependent transits the driver. Per sweep: max_hops
    frontier joins; everything else is 1-row plumbing.

    Returns ONE row (start_node, turn_node, ecc_start, far_node,
    diameter_lb, n_reached) — n_reached = nodes settled by sweep 2.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sym = (
        e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()  # both sweeps + the start-node agg read it
    )
    nodes = sym.select(F.col("src").alias("node"))
    u0 = nodes.agg(F.min("node").alias("node"))
    d1 = bfs_distances(sym, u0, max_hops, undirected=False, canonical=True)
    turn = d1.orderBy(F.desc("dist"), F.asc("node")).limit(1)
    d2 = bfs_distances(
        sym, turn.select("node"), max_hops, undirected=False, canonical=True
    )
    far = d2.orderBy(F.desc("dist"), F.asc("node")).limit(1)
    n2 = d2.agg(F.count(F.lit(1)).cast("long").alias("n_reached"))
    return (
        F.broadcast(u0.select(F.col("node").alias("start_node")))
        .crossJoin(
            F.broadcast(
                turn.select(
                    F.col("node").alias("turn_node"),
                    F.col("dist").cast("long").alias("ecc_start"),
                )
            )
        )
        .crossJoin(
            F.broadcast(
                far.select(
                    F.col("node").alias("far_node"),
                    F.col("dist").cast("long").alias("diameter_lb"),
                )
            )
        )
        .crossJoin(F.broadcast(n2))
    )


def rich_club(
    edges: DataFrame,
    ks: list[int],
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Rich-club census (Zhou & Mondragón '04): for each club size k,
    the number of edges among the k highest-degree nodes vs the C(k,2)
    possible — do the hubs of the graph trade preferentially with each
    other? The hub-interconnection diagnostic read next to
    assortativity (assortativity is the correlation over ALL edges;
    the rich club isolates the head), and for a KG: whether the
    best-attested entities form a core or a star field.

    Exact by construction: membership is the top-k by (degree DESC,
    node ASC) — a total order — and the club's induced edge count /
    C(k,2) ships as exact integers plus an integer-ppm density. The
    club is k rows (k a small constant), so membership broadcasts and
    the induced-edge count is two broadcast semi-joins over the
    canonical edge list; degrees are the one shuffle.

    Returns (k, club_edges, possible_edges, density_ppm) per k.
    """
    from functools import reduce

    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    outs = []
    for k in ks:
        club = deg.orderBy(F.desc("degree"), F.asc("node")).limit(k)
        ca = club.select(F.col("node").alias("a"))
        cb = club.select(F.col("node").alias("b"))
        cnt = (
            e.join(F.broadcast(ca), "a", "semi")
            .join(F.broadcast(cb), "b", "semi")
            .agg(F.count(F.lit(1)).cast("long").alias("club_edges"))
        )
        outs.append(
            cnt.select(
                F.lit(k).cast("long").alias("k"),
                "club_edges",
                F.lit(k * (k - 1) // 2).cast("long").alias("possible_edges"),
                # k < 2 ⇒ possible_edges = 0: density is NULL by contract
                # (never a div-by-zero — the guard keeps the 0 literal out
                # of the division on both engines).
                (
                    F.expr(
                        f"1000000 * club_edges div {k * (k - 1) // 2}"
                    ).cast("long")
                    if k >= 2
                    else F.lit(None).cast("long")
                ).alias("density_ppm"),
            )
        )
    return reduce(lambda x, y: x.unionAll(y), outs)
