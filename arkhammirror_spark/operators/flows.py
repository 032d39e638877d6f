"""Sankey flow analysis over the co-mention graph — re-expresses
FlowAnalyzer.extract_entity_flows / extract_relationship_flows /
aggregate_flows (arkham-shard-graph/flows.py:47-457) as DataFrame
algebra.

Inputs are the repo's graph frames: nodes (id, label, entity_type) and
edges (source, target, relationship_type, weight). Scale shape: every
aggregation is keyed by entity type, layer, or node id — bounded
cardinality; joins to the node table are equi-joins; the only global
sort is aggregate_flows' top-N link ranking, a presentation cap
(max_links ~= 50) over an already type-aggregated link set.

Determinism note: the reference's aggregate_flows relies on Python's
stable sort over the incoming link list; here ties rank canonically by
(value desc, source, target, category).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _edge_type_col():
    rel = F.col("relationship_type")
    return F.when(
        rel.isNull() | (rel == ""), F.lit("related")
    ).otherwise(rel)


def _node_type_col():
    t = F.col("entity_type")
    return F.lower(
        F.when(t.isNull() | (t == ""), F.lit("unknown")).otherwise(t)
    )


def extract_entity_flows(
    nodes: DataFrame,
    edges: DataFrame,
    source_types: list[str] | None = None,
    target_types: list[str] | None = None,
    intermediate_types: list[str] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Layered entity-type flows (flows.py:47-185): sources -> layer 0,
    intermediates -> 1, targets -> 2 (or 1 without intermediates);
    type precedence source > target > intermediate. Edges with a
    negative or null weight, touching unlayered nodes, or within one
    layer are dropped; flows are reoriented low->high layer.
    Returns (flow_nodes, flow_links, stats)."""
    source_types = [t.lower() for t in (source_types or ["person"])]
    target_types = [
        t.lower() for t in (target_types or ["organization", "location"])
    ]
    intermediate_types = [t.lower() for t in (intermediate_types or [])]
    nt = _node_type_col()
    target_layer = 2 if intermediate_types else 1
    layer = (
        F.when(nt.isin(source_types), 0)
        .when(nt.isin(target_types), target_layer)
        .when(
            nt.isin(intermediate_types) if intermediate_types else F.lit(False),
            1,
        )
    )
    layered = nodes.select(
        F.col("id").alias("nid"), layer.alias("layer")
    ).where(F.col("layer").isNotNull())

    et = _edge_type_col()
    e = edges.where(F.col("weight") >= 0.0).select(
        "source", "target", "weight", et.alias("category")
    )
    sl = layered.select(
        F.col("nid").alias("source"), F.col("layer").alias("slayer")
    )
    tl = layered.select(
        F.col("nid").alias("target"), F.col("layer").alias("tlayer")
    )
    joined = e.join(sl, "source").join(tl, "target")
    links = (
        joined.where(F.col("slayer") != F.col("tlayer"))
        .select(
            F.when(
                F.col("slayer") > F.col("tlayer"), F.col("target")
            ).otherwise(F.col("source")).alias("source"),
            F.when(
                F.col("slayer") > F.col("tlayer"), F.col("source")
            ).otherwise(F.col("target")).alias("target"),
            F.col("weight").alias("value"),
            "category",
        )
    )
    flow_nodes = _nodes_from_links(links, nodes, layered)
    stats = _flow_stats(links, flow_nodes)
    return flow_nodes, links, stats


def _nodes_from_links(
    links: DataFrame, nodes: DataFrame, layered: DataFrame
) -> DataFrame:
    ends = links.select(
        F.col("source").alias("nid"), "value"
    ).unionByName(links.select(F.col("target").alias("nid"), "value"))
    vals = ends.groupBy("nid").agg(F.sum("value").alias("value"))
    return (
        vals.join(
            nodes.select(
                F.col("id").alias("nid"), "label",
                _node_type_col().alias("entity_type"),
            ),
            "nid",
        )
        .join(layered, "nid", "left")
        .select(
            F.col("nid").alias("id"),
            F.coalesce(
                F.when(F.col("label") == "", None).otherwise(
                    F.col("label")
                ),
                F.col("nid"),
            ).alias("label"),
            "entity_type",
            F.coalesce("layer", F.lit(0)).alias("layer"),
            "value",
        )
    )


def _flow_stats(links: DataFrame, flow_nodes: DataFrame) -> DataFrame:
    totals = links.agg(
        F.coalesce(F.sum("value"), F.lit(0.0)).alias("total_flow")
    )
    layers = flow_nodes.agg(
        (F.coalesce(F.max("layer"), F.lit(0)) + 1).alias("layer_count")
    )
    return totals.crossJoin(layers)  # two 1-row frames


def extract_relationship_flows(
    nodes: DataFrame, edges: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Relationship-type flows (flows.py:186-370), aggregated by type:
    weight (negative and null weights dropped) grouped by (source type,
    target type, relationship type) into type_<t> pseudo-nodes, layering
    each by the 1.5x out/in-flow rule."""
    et = _edge_type_col()
    e_w = edges.select(
        "source", "target", "weight", F.lower(et).alias("category")
    ).where(F.col("weight") >= 0.0)

    typed = nodes.select(
        F.col("id").alias("nid"), _node_type_col().alias("ntype")
    )
    flows = (
        e_w.join(
            typed.select(
                F.col("nid").alias("source"),
                F.col("ntype").alias("stype"),
            ),
            "source",
        )
        .join(
            typed.select(
                F.col("nid").alias("target"),
                F.col("ntype").alias("ttype"),
            ),
            "target",
        )
        .groupBy("stype", "ttype", "category")
        .agg(F.sum("weight").alias("value"))
    )
    links = flows.select(
        F.concat(F.lit("type_"), F.col("stype")).alias("source"),
        F.concat(F.lit("type_"), F.col("ttype")).alias("target"),
        "value",
        "category",
    )
    outv = links.groupBy(F.col("source").alias("node_id")).agg(
        F.sum("value").alias("out_val")
    )
    inv = links.groupBy(F.col("target").alias("node_id")).agg(
        F.sum("value").alias("in_val")
    )
    both = (
        outv.join(inv, "node_id", "full")
        .withColumn("out_val", F.coalesce("out_val", F.lit(0.0)))
        .withColumn("in_val", F.coalesce("in_val", F.lit(0.0)))
    )
    layer = (
        F.when(F.col("out_val") > F.col("in_val") * 1.5, 0)
        .when(F.col("in_val") > F.col("out_val") * 1.5, 2)
        .otherwise(F.lit(1))
    )
    etype = F.substring(F.col("node_id"), 6, 2_000_000)
    flow_nodes = both.select(
        F.col("node_id").alias("id"),
        F.initcap(etype).alias("label"),
        etype.alias("entity_type"),
        layer.alias("layer"),
        (F.col("out_val") + F.col("in_val")).alias("value"),
    )
    stats = _flow_stats(links, flow_nodes)
    return flow_nodes, links, stats


def aggregate_flows(
    flow_nodes: DataFrame,
    flow_links: DataFrame,
    min_value: float = 0.1,
    max_links: int = 50,
) -> tuple[DataFrame, DataFrame]:
    """Collapse small flows into per-layer-pair "Other" rollups
    (flows.py:370-457): links are ranked by value (desc; ties broken
    canonically by source/target/category) — a link is kept when its
    rank is within max_links AND its value >= min_value; every dropped
    link folds into other_layer_<src> -> other_layer_<dst> using the
    node layer map (missing source -> 0, missing target -> 1). Each
    Other node takes the total of the FIRST layer pair (by dropped-link
    rank) that created it, matching the reference's insertion-order
    dict."""
    # Scale shape: the original formulation ranked ALL links through one
    # unpartitioned row_number window (single-partition WindowExec — the
    # classic scale-killer). Replaced with a distributed top-k
    # (orderBy().limit() → TakeOrderedAndProject) whose boundary row is
    # brought back as a literal filter; only rows EQUAL to the boundary key
    # (exact duplicate link rows) need a tie split, done with a window
    # partitioned by the full link key over that tiny tied slice. The
    # dropped side's rank feeds only per-layer-pair minima, so it is
    # replaced by the equivalent sort-key struct: identical rows share a
    # (slayer, tlayer) pair, hence min(struct) ordering ≡ min(row_number)
    # ordering, exactly.
    key_cols = [
        F.desc("value"), F.asc("source"), F.asc("target"), F.asc("category")
    ]
    kstruct = F.struct(
        (-F.col("value")).alias("nv"), "source", "target", "category"
    )
    # slim 4-col frame; materialize once so the top-k probe and the final
    # branches don't recompute the caller's lineage
    links = flow_links.select(
        "source", "target", "value", "category"
    ).localCheckpoint(eager=True)
    top = (
        links.orderBy(*key_cols).limit(max_links).collect()
        if max_links > 0 else []
    )
    if max_links <= 0:
        kept = links.where(F.lit(False))
        dropped = links
    elif len(top) < max_links:
        # every link is within the rank cap; only min_value filters
        kept = links.where(F.col("value") >= min_value)
        dropped = links.where(~(F.col("value") >= min_value))
    else:
        b = top[-1]
        bkey = F.struct(
            F.lit(-b["value"]).alias("nv"),
            F.lit(b["source"]).alias("source"),
            F.lit(b["target"]).alias("target"),
            F.lit(b["category"]).alias("category"),
        )
        n_tie_keep = sum(
            1 for r in top
            if (r["value"], r["source"], r["target"], r["category"])
            == (b["value"], b["source"], b["target"], b["category"])
        )
        tied = links.where(kstruct == bkey)
        wt = Window.partitionBy(
            "source", "target", "value", "category"
        ).orderBy(F.lit(1))
        tied_rn = tied.withColumn("_rn", F.row_number().over(wt))
        in_top_below = links.where(kstruct < bkey)
        kept = (
            in_top_below.unionByName(
                tied_rn.where(F.col("_rn") <= n_tie_keep).drop("_rn")
            ).where(F.col("value") >= min_value)
        )
        dropped = (
            in_top_below.where(~(F.col("value") >= min_value))
            .unionByName(
                tied_rn.where(F.col("_rn") <= n_tie_keep).drop("_rn")
                .where(~(F.col("value") >= min_value))
            )
            .unionByName(
                tied_rn.where(F.col("_rn") > n_tie_keep).drop("_rn")
            )
            .unionByName(links.where(kstruct > bkey))
        )
    dropped = dropped.withColumn("rnk", kstruct)

    lmap = flow_nodes.select("id", "layer")
    d = (
        dropped.join(
            lmap.select(
                F.col("id").alias("source"),
                F.col("layer").alias("slayer"),
            ),
            "source",
            "left",
        )
        .join(
            lmap.select(
                F.col("id").alias("target"),
                F.col("layer").alias("tlayer"),
            ),
            "target",
            "left",
        )
        .withColumn("slayer", F.coalesce("slayer", F.lit(0)))
        .withColumn("tlayer", F.coalesce("tlayer", F.lit(1)))
    )
    pairs = (
        d.groupBy("slayer", "tlayer")
        .agg(
            F.sum("value").alias("value"),
            F.min("rnk").alias("first_rank"),
        )
        .where(F.col("value") > 0)
    )
    other_links = pairs.select(
        F.concat(F.lit("other_layer_"), F.col("slayer")).alias("source"),
        F.concat(F.lit("other_layer_"), F.col("tlayer")).alias("target"),
        "value",
        F.lit("aggregated").alias("category"),
    )
    ends = pairs.select(
        F.col("slayer").alias("layer"), "value", "first_rank"
    ).unionByName(
        pairs.select(
            F.col("tlayer").alias("layer"), "value", "first_rank"
        )
    )
    wn = Window.partitionBy("layer").orderBy(F.asc("first_rank"))
    other_nodes = (
        ends.withColumn("rn", F.row_number().over(wn))
        .where(F.col("rn") == 1)
        .select(
            F.concat(F.lit("other_layer_"), F.col("layer")).alias("id"),
            F.lit("Other").alias("label"),
            F.lit("other").alias("entity_type"),
            "layer",
            "value",
        )
    )
    kept_ids = kept.select(F.col("source").alias("id")).unionByName(
        kept.select(F.col("target").alias("id"))
    ).distinct()
    final_nodes = flow_nodes.join(kept_ids, "id").unionByName(other_nodes)
    final_links = kept.unionByName(other_links)
    return final_nodes, final_links
