"""Knowledge-graph co-mention edges + degrees — the flagship native query.

Spark restatement of the reference's co-occurrence SQL
(arkham-shard-graph/builder.py:240-265): self-join mentions on the document
key with an ordered pair predicate, COUNT(DISTINCT doc), ARRAY_AGG(DISTINCT
doc), HAVING count ≥ min, ORDER BY count DESC LIMIT n — plus edge weight
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


def comention_edges(
    mentions: DataFrame,
    doc_col: str = "url",
    include_doc_ids: bool = True,
) -> DataFrame:
    # Join-free formulation of the reference SQL: first aggregate each doc's
    # DISTINCT entity names into one sorted array (one shuffle, map-side
    # combinable), then explode the i<j combinations natively. Output is
    # identical to the self-join + COUNT(DISTINCT) form — each (a, b, doc)
    # appears exactly once, so count(*) ≡ COUNT(DISTINCT doc) — but the plan
    # has two shuffles instead of four and no join at all.
    per_doc = mentions.groupBy(F.col(doc_col).alias("doc")).agg(
        F.sort_array(F.collect_set(F.lower(F.col("text")))).alias("names")
    )
    return comention_edges_from_name_sets(
        per_doc, "names", "doc", include_doc_ids
    )


def comention_edges_from_name_sets(
    docs: DataFrame,
    names_col: str = "_names",
    doc_col: str = "url",
    include_doc_ids: bool = False,
) -> DataFrame:
    """Edge build from per-doc sorted-distinct name arrays: one narrow pair
    explosion feeding a tiny partial-aggregated count; pairs co-mentioned
    in at least 2 documents, the top 1000 by count. The pipeline passes
    the arrays its fused extract already produced (no per-doc groupBy at
    all); ``comention_edges`` builds them from mention rows. Per-doc entity
    counts are bounded (documents are bounded size), so the combination
    explosion is O(m²) with small m, inside one task."""
    exploded = docs.select(
        F.col(doc_col).alias("doc"),
        F.explode(ordered_pairs(F.col(names_col), "entity_a", "entity_b")).alias("p"),
    ).select("doc", "p.entity_a", "p.entity_b")
    aggs = [F.count(F.lit(1)).alias("co_occurrence_count")]
    if include_doc_ids:
        aggs.append(F.sort_array(F.collect_list(F.col("doc"))).alias("document_ids"))
    edges = (
        exploded.groupBy("entity_a", "entity_b")
        .agg(*aggs)
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
