"""s-t max-flow / min-cut on DataFrames (bounded Edmonds–Karp).

Parity target: the reference's experimental Pregel3 MinCut client —
the only query surface it exposes beyond the classic Pregel catalog
(`/root/reference/pregel3/p3_make_query.py:108-124`: algorithmSpec
`{algorithmName: "MinCut", capacityProp, defaultCapacity,
sourceVertexId, targetVertexId}`; params wiring
`/root/reference/arguments.py:140-153`).  The reference only POSTs
that spec to a server; the algorithm itself lives server-side.  This
module is the Spark-native bounded analogue: Edmonds–Karp (BFS
augmenting paths, shortest-path-first) with every per-iteration step a
DataFrame job, mirroring the repo's `k_hop` / `shortest_path_trace`
loop shape (frontier equi-join + min-parent aggregate; the residual
is lineage-truncated by one localCheckpoint per augmentation, and
each BFS layer costs exactly one action).

Determinism contract (what makes a SQL oracle replay it exactly):
* BFS layers over the residual graph: dist(v) = min hops from s over
  arcs with residual capacity > 0;
* parent(v) = MIN(u) over residual arcs u->v with dist(u) =
  dist(v) - 1 — the lexicographically minimal shortest augmenting
  path, unique by construction;
* bottleneck = min residual capacity along that path; augment, repeat.
Every augmentation is a pure function of the previous residual, so an
unrolled recursive-CTE oracle replays the whole run phase by phase.

Scale envelope — stated, not hidden: Edmonds–Karp runs O(V·E)
augmentations in the worst case, each a full BFS; this is the
"bounded native" tier (SURVEY §2.9 G7) for cut queries on extracted
subgraphs (communities, ego-nets, k-hop neighborhoods — the shapes the
Pregel3 experiment targeted), NOT a 10^12-edge operator.  Each BFS
round IS distributed (frontier joins partition by vertex), memory per
round is O(frontier); the driver holds the parent map of the bounded
subgraph (O(V) — acceptable in this tier by definition) for the
backtrack plus the O(1) bottleneck — width scales with the cluster
even though the augmentation count is inherently sequential.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def st_mincut(
    edges: DataFrame,
    source,
    target,
    src: str = "src",
    dst: str = "dst",
    cap_col: str | None = None,
    default_capacity: int = 1,
    max_augmentations: int = 32,
    max_hops: int = 16,
) -> DataFrame:
    """Minimum s-t cut of a DIRECTED capacitated graph (pass both arc
    directions for an undirected one — the Pregel3 client's graphs).

    Mirrors the reference MinCut algorithmSpec: ``cap_col`` is
    capacityProp (``default_capacity`` fills NULLs / absence),
    ``source``/``target`` are sourceVertexId / targetVertexId.

    -> one row per cut edge (src, dst, capacity, max_flow): the
    original-graph arcs from the source side S of the final residual
    reachability to the complement, with ``max_flow`` (the same value
    on every row) = sum of augmenting-path bottlenecks.  By max-flow /
    min-cut duality sum(capacity) == max_flow — asserted here, so a
    truncated run (max_augmentations / max_hops too small) raises
    instead of returning a plausible-but-wrong cut.  A run that needs
    exactly ``max_augmentations`` paths completes.  An empty result
    means s and t are already disconnected (max_flow 0).

    Capacities must be integers (``cap_col`` of an integral type,
    ``default_capacity`` an int): flows are summed exactly and the
    duality check compares them with ``==``.
    """
    if cap_col and not isinstance(edges.schema[cap_col].dataType, T.IntegralType):
        raise ValueError(
            f"st_mincut: capacity column {cap_col!r} has type"
            f" {edges.schema[cap_col].dataType.simpleString()}; capacities"
            " must be integral (cast or scale them to a long)"
        )
    if not isinstance(default_capacity, int):
        raise ValueError(
            f"st_mincut: default_capacity {default_capacity!r} must be an int"
        )
    cap = (
        F.coalesce(F.col(cap_col), F.lit(default_capacity))
        if cap_col
        else F.lit(default_capacity)
    )
    fwd = (
        edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v"), cap.alias("cap")
        )
        .groupBy("u", "v")
        .agg(F.sum("cap").alias("cap"))
    )
    # residual = forward arcs + zero-capacity reverse arcs (so pushes
    # can be undone); coalesce parallel arcs first
    rev = fwd.select(
        F.col("v").alias("u"), F.col("u").alias("v"), F.lit(0).alias("cap")
    )
    res = (
        fwd.unionByName(rev)
        .groupBy("u", "v")
        .agg(F.sum("cap").alias("cap"))
        .localCheckpoint(eager=True)
    )

    spark = edges.sparkSession
    id_t = "string" if isinstance(source, str) else "long"

    def bfs(residual: DataFrame) -> dict:
        """-> {id: parent} over residual arcs with cap > 0, parent =
        MIN(u) in the previous BFS layer; stops early once the target
        is reached (no later layer can shorten it).

        Each layer expansion is ONE single-stage distributed job (the
        residual scan broadcast-joined against the frontier — no
        shuffle); the frontier-incident arcs (<= E of the bounded
        subgraph) return to the driver, where the min-parent pick over
        that bounded layer is O(layer).  No per-round checkpoints: the
        residual under the scan is already lineage-truncated per
        augmentation."""
        arcs = residual.filter(F.col("cap") > 0)
        parents: dict = {source: None}
        caps: dict = {}  # residual cap of each discovered parent edge
        frontier = [source]
        for _ in range(max_hops):
            fdf = spark.createDataFrame([(x,) for x in frontier], f"u {id_t}")
            hits = arcs.join(F.broadcast(fdf), "u").collect()
            step: dict = {}
            for r in hits:
                v, u = r["v"], r["u"]
                if v not in parents and (v not in step or u < step[v]):
                    step[v] = u
                caps[(u, v)] = r["cap"]
            if not step:
                break
            parents.update(step)
            if target in parents:
                break
            frontier = sorted(step)
        return parents, caps

    max_flow = 0
    # one BFS more than the augmentation budget: a run whose last
    # permitted path completes the flow ends on an unreachable target
    for n_aug in range(max_augmentations + 1):
        pmap, caps = bfs(res)
        if target not in pmap:
            break
        if n_aug == max_augmentations:
            raise ValueError(
                f"st_mincut: still augmenting after {max_augmentations} paths —"
                " raise max_augmentations (graph larger than the bounded"
                " envelope)"
            )
        # backtrack target -> source through the min-parent map
        path = [target]
        while path[-1] != source:
            path.append(pmap[path[-1]])
        path_edges = [
            (path[i + 1], path[i]) for i in range(len(path) - 1)
        ]  # (u, v) along s->t
        pe = spark.createDataFrame(path_edges, f"u {id_t}, v {id_t}")
        # the BFS layer collect already carried each discovered arc's
        # residual capacity — the bottleneck costs no extra job
        bottleneck = min(caps[e] for e in path_edges)
        max_flow += bottleneck
        pe_rev = pe.select(F.col("v").alias("u"), F.col("u").alias("v"))
        res = (
            res.join(
                pe.withColumn("_fwd", F.lit(True)), ["u", "v"], "left"
            )
            .join(pe_rev.withColumn("_rev", F.lit(True)), ["u", "v"], "left")
            .select(
                "u",
                "v",
                (
                    F.col("cap")
                    - F.when(F.col("_fwd"), F.lit(bottleneck)).otherwise(0)
                    + F.when(F.col("_rev"), F.lit(bottleneck)).otherwise(0)
                ).alias("cap"),
            )
            .localCheckpoint(eager=True)
        )

    # source side S of the cut = residual reachability from s, i.e.
    # the final BFS that no longer reached t
    reach = spark.createDataFrame([(x,) for x in pmap], f"id {id_t}")
    cut = (
        fwd.join(F.broadcast(reach.withColumnRenamed("id", "u")), "u")
        .join(
            F.broadcast(reach.withColumnRenamed("id", "v")), "v", "left_anti"
        )
        .filter(F.col("cap") > 0)
        .select(
            F.col("u").alias(src),
            F.col("v").alias(dst),
            F.col("cap").alias("capacity"),
            F.lit(max_flow).cast("long").alias("max_flow"),
        )
    )
    cut_cap = cut.agg(F.coalesce(F.sum("capacity"), F.lit(0))).collect()[0][0]
    if cut_cap != max_flow:
        raise AssertionError(
            f"st_mincut: cut capacity {cut_cap} != max flow {max_flow} —"
            " max_hops truncated a BFS (duality violated)"
        )
    return cut
