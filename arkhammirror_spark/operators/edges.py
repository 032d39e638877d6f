"""Knowledge-graph co-mention edges + degrees — the flagship native query.

Spark restatement of the reference's co-occurrence SQL
(arkham-shard-graph/builder.py:240-265): self-join mentions on the document
key with an ordered pair predicate, COUNT(DISTINCT doc), HAVING count ≥
min, ORDER BY count DESC LIMIT n — plus edge weight
min(1, count/10) (builder.py:420-432) and node degrees (builder.py:439-456).

Scale notes:
- no self-join: each doc's distinct names become one sorted array and the
  i<j pairs explode inside that doc's task — output-identical (each
  (a, b, doc) appears once, so count(*) ≡ COUNT(DISTINCT doc)), and the
  per-doc mention multiplicity never reaches a shuffle;
- ORDER BY+LIMIT compiles to TakeOrderedAndProject (no global sort);
  deterministic tiebreak on the pair names.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def ordered_pairs(arr: Column, first: str, second: str) -> Column:
    """Every i<j element pair of ``arr``, in order, as structs
    (``first`` = element i, ``second`` = element j). Element i pairs with
    the ``size - i - 1`` elements after it, so a 0- or 1-element array
    yields no pairs."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr) - i - 1),
                lambda y: F.struct(x.alias(first), y.alias(second)),
            ),
        )
    )


def comention_edges(mentions: DataFrame) -> DataFrame:
    """Co-mention edges over (doc_id, text) mention rows."""
    # Join-free formulation of the reference SQL: first aggregate each doc's
    # DISTINCT entity names into one sorted array (one shuffle, map-side
    # combinable), then explode the i<j combinations natively. Output is
    # identical to the self-join + COUNT(DISTINCT) form — each (a, b, doc)
    # appears exactly once, so count(*) ≡ COUNT(DISTINCT doc) — but the plan
    # has two shuffles instead of four and no join at all.
    per_doc = mentions.groupBy("doc_id").agg(
        F.sort_array(F.collect_set(F.lower(F.col("text")))).alias("_names")
    )
    return comention_edges_from_name_sets(per_doc)


def comention_edges_from_name_sets(docs: DataFrame) -> DataFrame:
    """Edge build from per-doc sorted-distinct `_names` arrays: one narrow
    pair explosion feeding a tiny partial-aggregated count; pairs
    co-mentioned in at least 2 documents, the top 1000 by count, as
    (entity_a, entity_b, co_occurrence_count, weight). No document_ids
    array: at 10^12-doc scale an unbounded ARRAY_AGG per edge is a memory
    hazard, and the (doc, entity) mapping is already in the mention rows.
    The pipeline passes the arrays its fused extract already produced (no
    per-doc groupBy at all); ``comention_edges`` builds them from mention
    rows. Per-doc entity counts are bounded (documents are bounded size),
    so the combination explosion is O(m²) with small m, inside one task."""
    exploded = docs.select(
        F.explode(ordered_pairs(F.col("_names"), "entity_a", "entity_b")).alias("p"),
    ).select("p.entity_a", "p.entity_b")
    edges = (
        exploded.groupBy("entity_a", "entity_b")
        .agg(F.count(F.lit(1)).alias("co_occurrence_count"))
        .where(F.col("co_occurrence_count") >= 2)
        .withColumn(
            "weight",
            F.least(F.lit(1.0), F.col("co_occurrence_count") / F.lit(10.0)),
        )
    )
    return edges.orderBy(
        F.desc("co_occurrence_count"), F.asc("entity_a"), F.asc("entity_b")
    ).limit(1000)


def node_degrees(edges: DataFrame) -> DataFrame:
    """Degree per node from the edge list (builder.py:439-456)."""
    ends = edges.select(F.col("entity_a").alias("name")).unionAll(
        edges.select(F.col("entity_b").alias("name"))
    )
    return ends.groupBy("name").agg(F.count(F.lit(1)).alias("degree"))
