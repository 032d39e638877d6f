"""Driver-side betweenness centrality over a collected edge list — the
reference `graph_scoring.betweenness_distributed` is tested against.

Reference lineage: arkham-shard-graph/arkham_shard_graph/algorithms.py —
betweenness (:436). It reproduces the reference's semantics including its
quirks (adjacency in edge-append order, the shortest-path enumeration
condition). tests/test_graph_algorithms.py fuzzes it against the ACTUAL
reference module loaded by file path.
"""

from __future__ import annotations

from collections import defaultdict, deque

# An edge is (source, target, weight, relationship_type). Helpers accept
# 2/3/4-tuples and pad weight=1.0, type="co_occurrence".


def _norm_edges(edges) -> list[tuple[str, str, float, str]]:
    out = []
    for e in edges:
        e = tuple(e)
        if len(e) == 2:
            out.append((e[0], e[1], 1.0, "co_occurrence"))
        elif len(e) == 3:
            out.append((e[0], e[1], float(e[2]), "co_occurrence"))
        else:
            out.append((e[0], e[1], float(e[2]), e[3]))
    return out


def _adj(edges) -> dict[str, list[str]]:
    adj: dict[str, list[str]] = defaultdict(list)
    for s, t, _w, _r in edges:
        adj[s].append(t)
        adj[t].append(s)
    return adj


def _nodes_in_order(edges) -> list[str]:
    """First-appearance node order (source before target, edge order)."""
    seen: dict[str, None] = {}
    for s, t, _w, _r in edges:
        seen.setdefault(s)
        seen.setdefault(t)
    return list(seen)


def _shortest_path_transits(adj, source: str, all_nodes: list[str]) -> dict[str, int]:
    """Per-source interior-node counts over enumerated shortest paths —
    including the reference's enumeration condition (:888-903), which
    re-expands equal-distance parents."""
    counts: dict[str, int] = defaultdict(int)
    for target in all_nodes:
        if target == source:
            continue
        queue = deque([(source, [source])])
        dist_seen = {source: 0}
        shortest: list[list[str]] = []
        best: int | None = None
        while queue:
            cur, path = queue.popleft()
            d = len(path) - 1
            if best is not None and d > best:
                break
            if cur == target:
                if best is None:
                    best = d
                shortest.append(path)
                continue
            for nb in adj.get(cur, []):
                nd = d + 1
                if nb not in dist_seen or dist_seen[nb] == nd:
                    dist_seen[nb] = nd
                    queue.append((nb, path + [nb]))
        for path in shortest:
            for node in path[1:-1]:
                counts[node] += 1
    return counts


def betweenness_centrality(edges, limit: int = 50) -> list[dict]:
    """Betweenness over enumerated shortest paths (algorithms.py:436-494),
    normalized by (n−1)(n−2)/2."""
    edges = _norm_edges(edges)
    adj = _adj(edges)
    nodes = _nodes_in_order(edges)
    acc: dict[str, float] = defaultdict(float)
    for src in nodes:
        for node, c in _shortest_path_transits(adj, src, nodes).items():
            acc[node] += c
    n = len(nodes)
    norm = (n - 1) * (n - 2) / 2 if n > 2 else 1
    ranked = sorted(acc.items(), key=lambda kv: kv[1], reverse=True)
    return [
        {"node": k, "score": (v / norm if norm > 0 else 0.0), "rank": i}
        for i, (k, v) in enumerate(ranked[:limit], start=1)
    ]
