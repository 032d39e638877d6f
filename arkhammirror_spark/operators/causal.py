"""Causal graph analysis — DAG validation, causal paths, confounders,
do-calculus effect estimation, causal ordering.

Reference lineage: arkham-shard-graph/causal.py (`CausalGraphEngine`):
- ``validate_dag`` (:176-224): DFS cycle detection, first cycle per
  unvisited root, in node-list order.
- ``find_causal_paths`` (:226-284): all simple directed paths ≤
  max_length nodes, strength = product of edge strengths, path_type
  direct/indirect.
- ``identify_confounders`` (:362-430): common ancestors of treatment
  and outcome, minus causal-path nodes and the endpoints, with
  BFS paths from each confounder to both.
- ``calculate_intervention_effect`` (:470-548): do(X=x) estimate =
  mean of causal-path strengths, confounders as the default
  adjustment set, ±0.2 clipped confidence interval.
- ``get_causal_ordering`` (:550-586): Kahn topological sort, distributed
  below.

Causal graphs are curated DAGs — the driver lane ports the reference
exactly (same traversal orders, so outputs are comparable
row-for-row). The distributed sibling is ``causal_ordering_distributed``:
Kahn peeling as join-per-round layer assignment (the CC/PageRank shape,
per-round localCheckpoint) — every edge constraint then checks as
layer(cause) < layer(effect) in one join, DAG-validity falls out as
"every node got a layer", and the layer frame scales to edge tables the
driver lane cannot hold. Path ENUMERATION is exponential by nature and
deliberately stays driver-side behind the reference's ≤-cap convention.
"""

from __future__ import annotations

from collections import deque

from pyspark.sql import DataFrame, functions as F

from .driver_lane import bounded_collect


# --- driver parity lane --------------------------------------------------


def validate_dag(
    edge_rows, node_ids
) -> tuple[bool, list[list[str]]]:
    """DFS cycle detection (:186-224) — same traversal order as the
    reference (nodes in ``node_ids`` order, neighbors in edge order)."""
    adjacency: dict[str, list[str]] = {}
    for c, e, *_ in edge_rows:
        adjacency.setdefault(c, []).append(e)

    cycles: list[list[str]] = []
    visited: set[str] = set()

    def dfs(node, rec_stack, path) -> bool:
        visited.add(node)
        rec_stack.add(node)
        path.append(node)
        for nb in adjacency.get(node, []):
            if nb not in visited:
                if dfs(nb, rec_stack, path):
                    return True
            elif nb in rec_stack:
                cycles.append(path[path.index(nb):] + [nb])
                return True
        path.pop()
        rec_stack.remove(node)
        return False

    for nid in node_ids:
        if nid not in visited:
            dfs(nid, set(), [])
    return len(cycles) == 0, cycles


def find_causal_paths(
    edge_rows, cause: str, effect: str, max_length: int = 10
) -> list[dict]:
    """All simple directed paths (:246-284): dicts with nodes,
    path_type, total_strength."""
    adjacency: dict[str, list[tuple[str, float]]] = {}
    for c, e, *rest in edge_rows:
        w = float(rest[0]) if rest else 1.0
        adjacency.setdefault(c, []).append((e, w))

    paths: list[dict] = []

    def dfs(current, visited, path_nodes, strengths):
        if len(path_nodes) > max_length:
            return
        if current == effect:
            total = 1.0
            for s in strengths:
                total *= s
            paths.append({
                "nodes": list(path_nodes),
                "path_type": "direct" if len(strengths) == 1 else "indirect",
                "total_strength": total,
            })
            return
        for nb, w in adjacency.get(current, []):
            if nb not in visited:
                visited.add(nb)
                path_nodes.append(nb)
                strengths.append(w)
                dfs(nb, visited, path_nodes, strengths)
                strengths.pop()
                path_nodes.pop()
                visited.remove(nb)

    dfs(cause, {cause}, [cause], [])
    return paths


def _ancestors(node: str, parents: dict[str, set[str]]) -> set[str]:
    """BFS ancestors (:432-443)."""
    out: set[str] = set()
    queue = deque(parents.get(node, set()))
    while queue:
        cur = queue.popleft()
        if cur not in out:
            out.add(cur)
            queue.extend(parents.get(cur, set()))
    return out


def _bfs_path(start, end, children) -> list[str]:
    """BFS path (:445-468)."""
    if start == end:
        return [start]
    queue = deque([(start, [start])])
    visited = {start}
    while queue:
        cur, path = queue.popleft()
        for child in children.get(cur, set()):
            if child == end:
                return path + [child]
            if child not in visited:
                visited.add(child)
                queue.append((child, path + [child]))
    return []


def identify_confounders(
    edge_rows, treatment: str, outcome: str
) -> list[dict]:
    """Common ancestors off the causal path (:384-430)."""
    children: dict[str, set[str]] = {}
    parents: dict[str, set[str]] = {}
    for c, e, *_ in edge_rows:
        children.setdefault(c, set()).add(e)
        parents.setdefault(e, set()).add(c)

    on_path: set[str] = set()
    for p in find_causal_paths(edge_rows, treatment, outcome):
        on_path.update(p["nodes"])

    potential = (
        _ancestors(treatment, parents) & _ancestors(outcome, parents)
    ) - on_path - {treatment, outcome}

    out = []
    for cid in potential:
        pt = _bfs_path(cid, treatment, children)
        po = _bfs_path(cid, outcome, children)
        out.append({
            "id": cid,
            "affects_treatment": bool(pt),
            "affects_outcome": bool(po),
            "path_to_treatment": pt,
            "path_to_outcome": po,
        })
    return out


def intervention_effect(
    edge_rows,
    intervention_node: str,
    target_node: str,
) -> dict:
    """do-calculus estimate (:496-548): mean path strength, confounder
    adjustment set, ±0.2 clipped interval."""
    paths = find_causal_paths(edge_rows, intervention_node, target_node)
    if not paths:
        return {
            "estimated_effect": 0.0, "n_paths": 0,
            "confounders_adjusted": [], "confidence_interval": None,
        }
    confs = identify_confounders(edge_rows, intervention_node, target_node)
    adjusted = [c["id"] for c in confs]
    effect = sum(p["total_strength"] for p in paths) / len(paths)
    return {
        "estimated_effect": effect,
        "n_paths": len(paths),
        "confounders_adjusted": adjusted,
        "confidence_interval": (
            max(0, effect - 0.2), min(1, effect + 0.2)
        ),
    }


# --- distributed Kahn layers ---------------------------------------------


def causal_ordering_distributed(edges: DataFrame) -> DataFrame:
    """Kahn peeling as join-per-round layer assignment: round L removes
    every zero-in-degree node and labels it layer L, so for every edge
    layer(cause) < layer(effect) — the distributed witness of a valid
    topological order (any per-layer tiebreak yields one). Nodes left
    after the loop sit on or downstream of a cycle and get layer −1;
    the graph is a DAG iff none do. Each round is one anti-join + one
    checkpointed subtraction — the CC/PageRank lineage discipline; at
    most 10 000 rounds. Takes (cause, effect) edges, returns (node,
    layer)."""
    e = edges.select(
        F.col("cause").alias("c"), F.col("effect").alias("x")
    ).distinct().localCheckpoint(eager=True)
    all_nodes = (
        e.select(F.col("c").alias("n"))
        .unionByName(e.select(F.col("x").alias("n")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    # Adaptive small-graph fast path (the CC/LPA cap pattern): the layer
    # of a node — the synchronous round at which its in-degree reaches
    # zero — is a unique function of the graph, so a driver Kahn over a
    # bounded edge set is EXACTLY the distributed loop's labeling
    # (including the all-remaining = -1 cycle rule). Bounded probes read
    # the checkpoints, so nothing upstream recomputes.
    e_head = bounded_collect(e, 100_000)
    if e_head is not None:
        n_head = bounded_collect(all_nodes, 100_000)
        if n_head is not None:
            node_set = {r["n"] for r in n_head}
            succ: dict[str, list[str]] = {}
            indeg = {n: 0 for n in node_set}
            for r in e_head:
                succ.setdefault(r["c"], []).append(r["x"])
                if r["x"] in indeg:
                    indeg[r["x"]] += 1
            layers_d: dict[str, int] = {}
            frontier = sorted(n for n in node_set if indeg[n] == 0)
            lvl = 0
            remaining = set(node_set)
            while frontier and lvl < 10_000:
                nxt: list[str] = []
                for n in frontier:
                    layers_d[n] = lvl
                    remaining.discard(n)
                    for m in succ.get(n, []):
                        if m in remaining:
                            indeg[m] -= 1
                            if indeg[m] == 0:
                                nxt.append(m)
                frontier = sorted(set(nxt))
                lvl += 1
            if not frontier:
                # loop ended with no zero-in-degree node left: everything
                # remaining is on/downstream of a cycle (-1, like the
                # distributed arm). A round-cap exhaustion instead leaves
                # the rest unlabeled, also like the distributed arm.
                for n in remaining:
                    layers_d[n] = -1
            # pickled rows, not `local_frame`: q_causal_analysis joins this
            # result twice, and a LocalRelation's size statistics would turn
            # both joins into broadcasts, moving its recorded plan shape
            return edges.sparkSession.createDataFrame(
                sorted(layers_d.items()), "node string, layer long"
            )

    remaining_nodes = all_nodes
    remaining_edges = e
    spark = edges.sparkSession
    layers = spark.createDataFrame([], "node string, layer long")
    layer = 0
    while layer < 10_000:
        n_left = remaining_nodes.count()
        if n_left == 0:
            break
        zero_in = remaining_nodes.join(
            remaining_edges.select(F.col("x").alias("n")).distinct(),
            "n", "left_anti",
        ).localCheckpoint(eager=True)
        n_zero = zero_in.count()
        if n_zero == 0:
            # cycle core (and everything only reachable through it)
            layers = layers.unionByName(
                remaining_nodes.select(
                    F.col("n").alias("node"),
                    F.lit(-1).cast("long").alias("layer"),
                )
            )
            return layers
        layers = layers.unionByName(
            zero_in.select(
                F.col("n").alias("node"),
                F.lit(layer).cast("long").alias("layer"),
            )
        )
        remaining_nodes = remaining_nodes.join(
            zero_in, "n", "left_anti"
        ).localCheckpoint(eager=True)
        remaining_edges = remaining_edges.join(
            zero_in.select(F.col("n").alias("c")), "c", "left_anti"
        ).localCheckpoint(eager=True)
        layer += 1
    return layers
