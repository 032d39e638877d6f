"""Graph analytics over the co-mention edge table.

Reference lineage: arkham-shard-graph/arkham_shard_graph/algorithms.py
(pure-Python in-memory adjacency: PageRank :496, connected components
:1025, betweenness :436, Louvain :583). The reference caps graphs at 500
nodes / 1000 edges (builder.py:166,264), so driver-side computation over
the collected edge list is proportionate; for beyond-memory graphs,
`connected_components_distributed` provides the iterative
min-label-propagation (hash-join per round, AQE-planned) that scales with
the cluster.
"""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import DataFrame, functions as F

from .driver_lane import bounded_collect, local_frame
from .lane import explode_lane

# the PageRank damping factor of the driver reference, the distributed loop,
# its driver lane and the DuckDB oracle (algorithms.py:496)
DAMPING = 0.85
# pagerank_distributed's power iterations and the decimal digits of its
# fixed-point ranks, read by its driver lane and its DuckDB oracle too
PR_ITERS = 3
PR_DIGITS = 12

# ----------------------------- driver-side (≤ reference caps) --------------


def _adjacency(edge_rows) -> dict[str, set[str]]:
    adj: dict[str, set[str]] = defaultdict(set)
    for r in edge_rows:
        adj[r["entity_a"]].add(r["entity_b"])
        adj[r["entity_b"]].add(r["entity_a"])
    return adj


def pagerank(edges: DataFrame, iterations: int = 20) -> dict[str, float]:
    """Power iteration on the undirected co-mention graph (algorithms.py:496)."""
    adj = _adjacency(edges.collect())
    n = len(adj)
    if n == 0:
        return {}
    rank = {k: 1.0 / n for k in adj}
    for _ in range(iterations):
        nxt = {}
        for node in adj:
            incoming = sum(rank[nb] / len(adj[nb]) for nb in adj[node])
            nxt[node] = (1 - DAMPING) / n + DAMPING * incoming
        rank = nxt
    return rank


def ego_network(edges: DataFrame, center: str) -> DataFrame:
    """Depth-1 ego-subgraph (builder.py:549-619): the edges among the
    center and its neighbours, as two DataFrame filters."""
    rows = edges.where(
        (F.col("entity_a") == center) | (F.col("entity_b") == center)
    ).collect()
    seen = {center}
    for r in rows:
        seen.add(r["entity_a"])
        seen.add(r["entity_b"])
    return edges.where(
        F.col("entity_a").isin(*seen) & F.col("entity_b").isin(*seen)
    )


# ----------------------------- distributed (beyond reference caps) ---------


def _undirected_edges(edges: DataFrame) -> DataFrame:
    """Each undirected edge once as (a, b) with a <= b, self-loops kept:
    the driver lanes' probe input. Checkpointed BEFORE the cap probe:
    limit().collect() executes incrementally (1, 4, 16 … partitions per
    attempt) and each attempt would otherwise recompute the whole upstream
    (NER + comention) lineage — measured ~1.7× the full input cost. Two
    string columns per distinct edge, invariant-5-slim."""
    return edges.select(
        F.least("entity_a", "entity_b").alias("a"),
        F.greatest("entity_a", "entity_b").alias("b"),
    ).distinct().localCheckpoint(eager=True)


def _pagerank_fixed_point(head) -> list[tuple[str, float]]:
    """`pagerank_distributed`'s fixed-point loop on the driver, over the rows
    of `_undirected_edges`: the same symmetric edge set, the same
    expressions evaluated in the same IEEE order (the constant terms are the
    same Python doubles the loop's F.lit carries), and an exact integer
    incoming sum — so every rank is bit-identical to the loop's."""
    nbrs: dict[str, list[str]] = {}
    for r in head:
        a, b = r["a"], r["b"]
        nbrs.setdefault(a, []).append(b)
        if a != b:
            nbrs.setdefault(b, []).append(a)
    n = len(nbrs)
    if n == 0:
        return []
    fscale = float(10**PR_DIGITS)
    base = (1.0 - DAMPING) / n
    rank = dict.fromkeys(nbrs, 1.0 / n)
    r_int = {v: math.floor(x * fscale + 0.5) for v, x in rank.items()}
    for _ in range(PR_ITERS):
        inc = dict.fromkeys(nbrs, 0)
        for u, out in nbrs.items():
            c = r_int[u] // len(out)
            for v in out:
                inc[v] += c
        rank = {v: base + DAMPING * (float(inc[v]) / fscale) for v in nbrs}
        r_int = {v: math.floor(x * fscale + 0.5) for v, x in rank.items()}
    return sorted(rank.items())


def graph_statistics(edges: DataFrame) -> DataFrame:
    """Whole-graph statistics (algorithms.py:707-760): node count, edge
    count, density 2E/(N(N−1)), average degree 2E/N — one aggregation, no
    collect, so it holds at any graph size."""
    nodes = (
        edges.select(F.col("entity_a").alias("name"))
        .unionAll(edges.select(F.col("entity_b").alias("name")))
        .distinct()
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        n_nodes.crossJoin(n_edges)
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.when(
                F.col("n_nodes") > 1,
                2.0 * F.col("n_edges") / (F.col("n_nodes") * (F.col("n_nodes") - 1)),
            ).otherwise(0.0).alias("density"),
            F.when(F.col("n_nodes") > 0, 2.0 * F.col("n_edges") / F.col("n_nodes"))
            .otherwise(0.0)
            .alias("avg_degree"),
        )
    )


def pagerank_distributed(
    edges: DataFrame,
    driver_cap: int | None = 100_000,
) -> DataFrame:
    """Distributed power iteration on the undirected co-mention graph —
    the DataFrame sibling of `pagerank` (algorithms.py:496 semantics:
    r(v) = (1−d)/n + d·Σ_{u∈N(v)} r(u)/deg(u)), for graphs beyond the
    reference's 500-node cap. PR_ITERS rounds of one join + agg; the
    symmetric edge list is the only reused frame (slim: two string
    columns). Returns (name, rank).

    Each iteration runs in FIXED-POINT arithmetic: ranks are held as
    floor(rank·10^PR_DIGITS + 0.5) BIGINTs, per-edge contributions are
    integer-divided by degree, and the incoming sum is an exact integer sum
    — order-independent, so the result is bit-identical across partition
    counts / engines (a float Σ rank/deg is partition-order-dependent at the
    last ulp, which can flip a round(…, 6) comparison). The quantization
    error is ≤ deg·10⁻¹² per node per iteration — invisible when the
    comparison precision is 6 digits.

    Small graphs take CC's adaptive lane: when the distinct undirected edge
    set fits under `driver_cap`, one bounded collect fetches the whole graph
    and the same fixed-point iteration runs on the driver
    (`_pagerank_fixed_point`), bit-identical to the loop and without its
    per-round jobs. Set driver_cap=None to force the distributed loop.
    """
    spark = edges.sparkSession
    if driver_cap is not None:
        head = bounded_collect(_undirected_edges(edges), driver_cap)
        if head is not None:
            return local_frame(
                spark, _pagerank_fixed_point(head), "name string, rank double"
            )
    sym = (
        edges.select(F.col("entity_a").alias("src"), F.col("entity_b").alias("dst"))
        .unionAll(
            edges.select(F.col("entity_b").alias("src"), F.col("entity_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n = deg.count()
    if n == 0:
        sym.unpersist()
        return local_frame(spark, [], "name string, rank double")
    scale = F.lit(float(10**PR_DIGITS))
    ranks = deg.select(
        F.col("src").alias("name"), F.lit(1.0 / n).alias("rank"), "deg"
    ).withColumn("r_int", F.floor(F.col("rank") * scale + 0.5))
    for _ in range(PR_ITERS):
        # BIGINT div BIGINT (both positive → truncate ≡ floor, matching
        # DuckDB's //); the downstream SUM is over exact integers
        contrib = (
            sym.join(ranks, sym.src == ranks.name)
            .select(F.col("dst"), F.expr("r_int div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("incoming"))
        )
        rank_col = (
            F.lit((1.0 - DAMPING) / n)
            + F.lit(DAMPING)
            * (F.coalesce(F.col("incoming"), F.lit(0)).cast("double") / scale)
        ).alias("rank")
        ranks = (
            deg.join(contrib, deg.src == contrib.dst, "left")
            .select(F.col("src").alias("name"), rank_col, "deg")
            .withColumn("r_int", F.floor(F.col("rank") * scale + 0.5))
        )
        # truncate lineage per round (see connected_components_distributed)
        ranks = ranks.localCheckpoint(eager=True)
    out = ranks.select("name", "rank")
    sym.unpersist()
    return out


def betweenness_distributed(
    edges: DataFrame,
    sample_sources: int | None = None,
    edge_cap: int = 10_000_000,
    auto_sample_above: int = 4096,
) -> DataFrame:
    """Source-parallel betweenness for graphs beyond the reference's
    500-node driver cap (builder.py:166) — the distributed sibling of
    graph_algorithms.betweenness_centrality, same per-source semantics.

    Decomposition: per-source shortest-path-transit counting is independent
    across sources, so the adjacency (slim: string pairs) is broadcast once
    and the SOURCE list is what distributes — the driver deals the sources
    into one batch per core, each batch is one lane row, and the lane
    function runs the exact reference enumeration
    (graph_algorithms._shortest_path_transits) for its sources and sums
    them into partial (node, count) rows. Exact when sample_sources is
    None; with sampling it is the Brandes–Pich style estimator (scores
    scaled by n/|S|). Fits graphs up to executor memory (~10⁷ edges) — far
    past the reference cap, though not the edge-table scale that
    CC/PageRank's join-per-round forms handle.

    Rank ties break lexicographically by node (deterministic under any
    partitioning; the driver-side sibling uses accumulation order).
    Returns (node, score, rank) for the top 10.

    Ceilings (enforced, not advisory): one bounded collect of at most
    `edge_cap` + 1 edges decides and fetches the adjacency, and more than
    `edge_cap` edges raise — the adjacency build is what bounds this form,
    and past it the join-per-round shapes (connected_components_distributed
    / pagerank_distributed) are the right tool. Graphs with more than
    `auto_sample_above` nodes and no explicit `sample_sources` switch to
    the Brandes–Pich sampled estimator automatically (exact per-source BFS
    over every source is O(n·m) — quadratic-ish compute long before memory
    hurts). The result is materialized eagerly so the broadcast can be
    destroyed before returning.
    """
    from .graph_algorithms import _shortest_path_transits

    spark = edges.sparkSession
    rows = bounded_collect(edges.select("entity_a", "entity_b"), edge_cap)
    if rows is None:
        raise ValueError(
            f"betweenness_distributed: more than edge_cap={edge_cap} edges; "
            "the broadcast-adjacency form is memory-bound — use "
            "connected_components_distributed / pagerank_distributed style "
            "join-per-round analytics or raise edge_cap explicitly."
        )
    adj: dict[str, list[str]] = {}
    for a, b in rows:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    nodes = list(adj)  # first-seen order, as the reference enumerates
    n = len(nodes)
    if n == 0:
        return local_frame(spark, [], "node string, score double, rank int")

    if sample_sources is None and n > auto_sample_above:
        sample_sources = auto_sample_above
    sources = nodes
    scale = 1.0
    if sample_sources is not None and sample_sources < n:
        import random

        sources = random.Random(7).sample(nodes, sample_sources)
        scale = n / sample_sources

    bc = spark.sparkContext.broadcast((adj, nodes))

    def _transits(srcs) -> list[dict]:
        adj_b, nodes_b = bc.value
        acc: dict[str, int] = {}
        for src in srcs:
            for node, c in _shortest_path_transits(adj_b, src, nodes_b).items():
                acc[node] = acc.get(node, 0) + c
        return [{"node": node, "cnt": c} for node, c in acc.items()]

    n_batches = min(len(sources), spark.sparkContext.defaultParallelism)
    batches = local_frame(
        spark,
        [(i, sources[i::n_batches]) for i in range(n_batches)],
        "batch int, srcs array<string>",
    )
    norm = (n - 1) * (n - 2) / 2 if n > 2 else 1
    scored = (
        explode_lane(batches, _transits, "batch int, node string, cnt long")
        .groupBy("node")
        .agg(F.sum("cnt").alias("cnt"))
        .select(
            "node",
            (F.col("cnt") * F.lit(scale) / F.lit(float(norm))).alias("score"),
        )
    )
    # Top 10 via distributed TakeOrderedAndProject; ranks are assigned on
    # the driver over the ≤10 collected rows, and returning through
    # local_frame frees the broadcast immediately.
    top = scored.orderBy(F.desc("score"), F.asc("node")).limit(10).collect()
    bc.destroy()
    return local_frame(
        spark,
        [(r["node"], r["score"], i + 1) for i, r in enumerate(top)],
        "node string, score double, rank int",
    )


def label_propagation_communities(edges: DataFrame) -> DataFrame:
    """Distributed community detection for graphs beyond the reference's
    500-node cap — the scale sibling of the reference's Louvain
    communities (algorithms.py:583). Louvain's local-moving is inherently sequential
    (node-by-node moves over an in-memory graph), so the distributed lane
    uses synchronous WEIGHTED LABEL PROPAGATION: each round every node
    adopts the label with the greatest incident edge count among its
    neighbours' labels ∪ its own label (self counted with weight 1 — the
    standard damping that stops two-node oscillation), ties broken to the
    smaller label, so the result is deterministic under any partitioning.
    One join + agg per round, per-round localCheckpoint (lineage rule).

    Semantics note: LPA optimizes local label agreement, not modularity —
    parity with the reference Louvain is NOT claimed (and is impossible to
    pin: Louvain's result depends on its sequential visit order). Converges
    on no-change; the 20-round cap is the standard LPA remedy for rare
    oscillation
    and capping out returns the current labels (heuristic contract, unlike
    connected_components_distributed whose labels must be exact).
    Returns (name, community).
    """
    from pyspark.sql import Window

    w_expr = F.lit(1.0)
    sym = (
        edges.select(
            F.col("entity_a").alias("src"), F.col("entity_b").alias("dst"),
            w_expr.alias("w"),
        )
        .unionAll(
            edges.select(
                F.col("entity_b").alias("src"), F.col("entity_a").alias("dst"),
                w_expr.alias("w"),
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )

    # Adaptive small-graph fast path (same shape as
    # connected_components_distributed's): bounded graphs pay only fixed
    # per-round scheduling in the distributed loop, so emulate the EXACT
    # synchronous min-tie weighted LPA on the driver. The update rule is
    # deterministic under any partitioning, and the per-label sums of unit
    # weights are exact in float regardless of addition order, so labels
    # are identical to the distributed loop's.
    head = bounded_collect(sym, 100_000)
    if head is not None:
        adj: dict[str, dict[str, float]] = {}
        for r in head:
            adj.setdefault(r["src"], {})[r["dst"]] = r["w"]
        labels_d = {n: n for n in adj}
        for _ in range(20):
            new_labels = {}
            changed = 0
            for n, nbrs in adj.items():
                scores: dict[str, float] = {labels_d[n]: 1.0}
                for m, w in nbrs.items():
                    lm = labels_d[m]
                    scores[lm] = scores.get(lm, 0.0) + w
                best = min(
                    scores, key=lambda lbl: (-scores[lbl], lbl)
                )
                new_labels[n] = best
                if best != labels_d[n]:
                    changed += 1
            labels_d = new_labels
            if changed == 0:
                break
        return local_frame(
            edges.sparkSession, sorted(labels_d.items()),
            "name string, community string",
        )

    sym = sym.persist()
    labels = sym.select(F.col("src").alias("name")).distinct().withColumn(
        "community", F.col("name")
    )
    win = Window.partitionBy("src").orderBy(F.desc("s"), F.asc("community"))
    win_all = Window.partitionBy("src")
    for _ in range(20):
        # One fused round: the self row (weight-1 damping) doubles as the
        # carrier of the PREVIOUS label — `is_self` survives the groupBy as
        # a max flag, and a same-partition window recovers prev per node, so
        # convergence needs no join back onto the old labels. The lazy
        # localCheckpoint is materialized BY the convergence count: one
        # Spark job per round total (was 2 jobs + an extra shuffle join).
        neighbor = (
            sym.join(labels, sym.dst == labels.name)
            .select("src", "community", "w", F.lit(0).alias("is_self"))
        )
        self_rows = labels.select(
            F.col("name").alias("src"), "community", F.lit(1.0).alias("w"),
            F.lit(1).alias("is_self"),
        )
        scores = (
            neighbor.unionByName(self_rows)
            .groupBy("src", "community")
            .agg(F.sum("w").alias("s"), F.max("is_self").alias("self_flag"))
        )
        updated = (
            scores.withColumn(
                "prev",
                F.max(F.when(F.col("self_flag") == 1, F.col("community"))).over(
                    win_all
                ),
            )
            .withColumn("_rk", F.row_number().over(win))
            .where(F.col("_rk") == 1)
            .select(F.col("src").alias("name"), "community", "prev")
            .localCheckpoint(eager=False)  # truncate per-round lineage
        )
        changed = updated.where(F.col("community") != F.col("prev")).count()
        labels = updated.select("name", "community")
        if changed == 0:
            break
    sym.unpersist()
    return labels


def connected_components_distributed(
    edges: DataFrame, driver_cap: int | None = 100_000
) -> DataFrame:
    """Min-label propagation over (node, component) frames.

    Each round: component := min(component over neighbors ∪ self); converges
    in O(diameter) rounds. The loop runs UNTIL the changed-count reaches 0 —
    50 rounds is a safety cap, and exhausting it without convergence
    raises rather than silently returning partially-propagated labels: a long-chain component deeper
    than the cap would otherwise produce wrong components that no downstream
    check can see. Pure DataFrame joins → scales with the cluster
    (what the reference cannot do beyond one process's memory).
    Returns (name, component) where component is the lexicographic min name
    reachable.

    Adaptive small-graph fast path (the broadcast-join-threshold idea):
    when the DISTINCT edge set fits under `driver_cap`, min-label rounds
    pay only fixed per-stage scheduling cost — ~0.6 s/round × O(log d)
    rounds for a 2k-edge graph — so the components are computed by driver
    union-find instead. `limit(cap+1).collect()` both decides and fetches
    in ONE job: if the cap is not exceeded those rows ARE the whole graph.
    Labels are identical (min member per component, same string ordering);
    graphs above the cap take the distributed loop unchanged. Set
    driver_cap=None to force the distributed path.
    """
    if driver_cap is not None:
        # self-loop rows (a == b) are kept: they seed their node into
        # parent{} as its own component, matching the distributed path
        # (where min over neighbors ∪ self keeps such nodes) — filtering
        # them out would make the output depend on which path ran
        head = bounded_collect(_undirected_edges(edges), driver_cap)
        if head is not None:
            parent: dict[str, str] = {}

            def find(x: str) -> str:
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:  # path compression
                    parent[x], x = r, parent[x]
                return r

            for row in head:
                a, b = row["a"], row["b"]
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                if a == b:
                    continue
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[ra] = rb
            comp_min: dict[str, str] = {}
            for n in parent:
                r = find(n)
                if r not in comp_min or n < comp_min[r]:
                    comp_min[r] = n
            out = [(n, comp_min[find(n)]) for n in parent]
            return local_frame(
                edges.sparkSession, out, "name string, component string"
            )

    sym = (
        edges.select(F.col("entity_a").alias("src"), F.col("entity_b").alias("dst"))
        .unionAll(
            edges.select(F.col("entity_b").alias("src"), F.col("entity_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = sym.select(F.col("src").alias("name")).distinct().withColumn(
        "component", F.col("name")
    )
    converged = False
    for _ in range(50):
        # Fused round: each node's new label is min(own ∪ neighbors'); the
        # self contribution rides the same groupBy tagged is_self so the OLD
        # label comes out of the aggregate (max over the when() keeps the
        # single self row), and convergence is a plain filter-count on the
        # round's result — no join back onto the previous labels. The
        # localCheckpoint is LAZY and is materialized by that same count:
        # one Spark job and two shuffles per round (the eager-checkpoint +
        # join-based check shape cost two jobs and four shuffles, ~12s of
        # fixed overhead across the rounds of a sf0.1 duplicate-groups run).
        # localCheckpoint also truncates the logical plan each round:
        # without it the lineage (and Catalyst planning time) grows
        # exponentially with iterations — the printed plan at 15 rounds held
        # >150 copies of the upstream subtree. On a cluster, set a
        # checkpoint dir and swap for .checkpoint() to also survive
        # executor loss.
        msgs = (
            sym.join(labels, sym.dst == labels.name)
            .select("src", "component", F.lit(0).alias("is_self"))
            .unionByName(
                labels.select(
                    F.col("name").alias("src"), "component",
                    F.lit(1).alias("is_self"),
                )
            )
        )
        upd = (
            msgs.groupBy("src")
            .agg(
                F.min("component").alias("component"),
                F.max(F.when(F.col("is_self") == 1, F.col("component"))).alias(
                    "prev"
                ),
            )
            .select(F.col("src").alias("name"), "component", "prev")
            .localCheckpoint(eager=False)  # read twice by the shortcut join
        )
        # Pointer-doubling shortcut: component := component-of-component
        # (this round's own labels as the lookup side — the lazy
        # checkpoint above makes the self-join read the aggregate once).
        # Effective reach
        # doubles per round, so chains converge in O(log diameter) rounds
        # instead of O(diameter) — measured 11 rounds -> 4 on the sf0.1
        # duplicate-groups fixture. component(y) <= y under min-label, so
        # the shortcut only ever lowers labels; the fixpoint (changed=0)
        # is the same connected-component minimum.
        look = upd.select(
            F.col("name").alias("c_name"), F.col("component").alias("c_comp")
        )
        updated = (
            upd.join(look, upd.component == look.c_name, "left")
            .select(
                "name",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("c_comp"), F.col("component")),
                ).alias("component"),
                "prev",
            )
            .localCheckpoint(eager=False)
        )
        changed = updated.where(F.col("component") != F.col("prev")).count()
        labels = updated.select("name", "component")
        if changed == 0:
            converged = True
            break
    sym.unpersist()
    if not converged:
        raise RuntimeError(
            "connected_components_distributed did not converge within 50 "
            "iterations (the graph's diameter exceeds the cap)"
        )
    return labels


def filter_graph(
    nodes: DataFrame,
    edges: DataFrame,
    entity_types: list[str] | None = None,
    min_degree: int | None = None,
    min_edge_weight: float | None = None,
    relationship_types: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Multi-criteria graph filter (builder.py:458-547), frame-native.

    Reference order preserved: node filters run against the STORED
    degree (pre-filter), edges keep only pairs whose BOTH endpoints
    survive, then weight / relationship-type filters, then degrees are recomputed over the filtered edges and
    isolated nodes dropped. nodes: (id, label, entity_type, degree[,
    ...]); edges: (source, target, relationship_type, weight[, ...]). Every step is a column filter or
    an equi-join on the node id — no collect, holds at any graph size.
    Returns (filtered_nodes_with_recomputed_degree, filtered_edges)."""
    n = nodes
    if entity_types:
        n = n.where(F.col("entity_type").isin(*entity_types))
    if min_degree is not None:
        n = n.where(F.col("degree") >= min_degree)
    kept_ids = n.select(F.col("id").alias("_kid"))
    e = (
        edges.join(kept_ids, edges["source"] == F.col("_kid")).drop("_kid")
        .join(kept_ids, edges["target"] == F.col("_kid")).drop("_kid")
    )
    if min_edge_weight is not None:
        e = e.where(F.col("weight") >= min_edge_weight)
    if relationship_types:
        e = e.where(F.col("relationship_type").isin(*relationship_types))
    ends = e.select(F.col("source").alias("id")).unionAll(
        e.select(F.col("target").alias("id"))
    )
    new_deg = ends.groupBy("id").agg(F.count(F.lit(1)).alias("_deg"))
    out_nodes = (
        n.drop("degree")
        .join(new_deg, "id")  # inner join drops isolated nodes
        .withColumnRenamed("_deg", "degree")
    )
    return out_nodes, e
