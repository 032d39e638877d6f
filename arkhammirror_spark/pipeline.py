"""End-to-end extraction pipeline: pages → docs → spans → entities → edges,
with explicit partitioning, skew salting, per-partition audit, and
snapshot-checkpoint resume.

The reference's six event-driven hops (ingest → queue → worker → parse →
entities → graph; SURVEY.md §3.1) fuse into one declarative DAG; the job
queue's SKIP-LOCKED work distribution becomes hash partitioning; retries
become the error/quarantine column; per-job lineage rows become the audit
table.

Scale design (the 100 TB story):
- input is repartitioned by xxhash64(url) before the extract UDF: uniform
  work distribution no matter how skewed the host mix is, and a stable
  partitioning the downstream doc-keyed join can reuse;
- host-level statistics (`salted_host_stats`, `detect_heavy_hosts`) are
  helpers no stage runs: a salted two-phase aggregation, so a 30%-of-corpus
  mega-host can't hot-spot a reducer when a caller asks for them;
- column pruning: the UDF sees only (url, warc_ts, html, text, kind); the
  audit pass aggregates the side-channel columns before the public write;
- commit: every run writes its tables as snapshots of one
  `ParquetSnapshotCatalog` and becomes visible in one run commit;
- resume: the committed docs snapshots' url sets are anti-joined against the
  input — already-extracted urls are never re-extracted.
"""

from __future__ import annotations

import hashlib
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.util import inheritable_thread_target

from .catalog import ParquetSnapshotCatalog
from .operators.edges import comention_edges_from_name_sets
from .operators.entities import aggregate_entities, filter_valid_mentions
from .operators.extract import extract_docs
from .schemas import DOCS_SCHEMA
from .operators.spans import (
    extract_chunks,
    extract_claims_df,
    extract_dates,
    extract_rels_from_mentions,
)
from .schemas import AUDIT_SCHEMA


HOST_RE = r"^[a-z][a-z0-9+.-]*://([^/]+)"


def host_col(url):
    return F.regexp_extract(url, HOST_RE, 1)


def partition_pages(pages: DataFrame, num_partitions: int) -> DataFrame:
    """Uniform url-hash repartition (north rule: partition by url hash)."""
    return pages.repartition(num_partitions, F.xxhash64(F.col("url")))


def salted_host_stats(pages: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Per-host page counts via salted two-phase aggregation.

    Any direct groupBy(host) hot-spots on the mega-host at scale; salting the
    key into `salt_buckets` shards makes the first (heavy) aggregation uniform
    and the second one tiny (hosts × buckets rows).
    """
    salted = pages.select(
        host_col(F.col("url")).alias("host"),
        F.pmod(F.xxhash64(F.col("url")), F.lit(salt_buckets)).alias("_salt"),
    )
    partial = salted.groupBy("host", "_salt").agg(F.count(F.lit(1)).alias("n"))
    return partial.groupBy("host").agg(F.sum("n").alias("n_pages"))


def detect_heavy_hosts(pages: DataFrame, threshold_fraction: float = 0.05) -> list[str]:
    """Hosts owning more than `threshold_fraction` of the corpus (broadcastable)."""
    stats = salted_host_stats(pages)
    total = pages.count()
    rows = stats.where(F.col("n_pages") >= total * threshold_fraction).collect()
    return [r["host"] for r in rows]


@dataclass
class PipelineResult:
    snapshot_id: str
    tables: dict[str, DataFrame] = field(default_factory=dict)
    audit: DataFrame | None = None


def _audit_from_docs(docs_raw: DataFrame, snapshot_id: str) -> DataFrame:
    return (
        docs_raw.groupBy(F.col("_part_id").alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("input_rows"),
            F.sum(F.when(F.col("error").isNull(), 1).otherwise(0)).alias("output_rows"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("error_rows"),
            F.sum(F.col("_batch_ms")).alias("wall_ms"),
        )
        .withColumn("stage", F.lit("extract"))
        .withColumn("snapshot_id", F.lit(snapshot_id))
        .select([f.name for f in AUDIT_SCHEMA.fields])
    )


def _mentions_from_docs(docs_raw: DataFrame) -> DataFrame:
    """The mentions table: one row per fused mock-NER span of an error-free doc."""
    return (
        docs_raw.where(F.col("error").isNull())
        .select("url", F.explode("_mentions").alias("m"))
        .select("url", "m.*")
    )


def run_extraction_stats(
    spark: SparkSession,
    pages: DataFrame,
    num_partitions: int | None = None,
) -> dict:
    """Compute-only extraction run (the scaling-bench unit of work): one
    extract pass, a SLIM persisted frame (scalars + the filtered name arrays
    — never the full text/mention structs, whose caching thrashes executor
    memory at corpus scale), then audit + edge build off the slim cache.

    Returns {docs, errors, mentions, edges, audit_rows}.
    """
    from pyspark import StorageLevel

    num_partitions = num_partitions or spark.sparkContext.defaultParallelism

    docs_raw = extract_docs(partition_pages(pages, num_partitions))
    slim = docs_raw.select(
        "url", "error", "_part_id", "_batch_ms", "_n_mentions", "_names"
    ).persist(StorageLevel.MEMORY_AND_DISK)

    n_docs = slim.count()
    n_err = slim.where(F.col("error").isNotNull()).count()
    n_mentions = (
        slim.where(F.col("error").isNull())
        .agg(F.sum("_n_mentions").alias("n"))
        .collect()[0]["n"]
        or 0
    )
    edges = comention_edges_from_name_sets(slim.where(F.col("error").isNull()))
    n_edges = edges.count()
    audit_rows = _audit_from_docs(slim, "").collect()
    slim.unpersist()
    return {
        "docs": n_docs,
        "errors": n_err,
        "mentions": int(n_mentions),
        "edges": n_edges,
        "audit_rows": len(audit_rows),
    }


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    num_partitions: int | None = None,
) -> PipelineResult:
    """Run the extraction DAG, commit its snapshots + audit as one run of the
    catalog at `out_dir`, and resume from the runs committed there."""
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism
    snapshot_id = hashlib.sha256(f"{time.time_ns()}".encode()).hexdigest()[:16]
    catalog = ParquetSnapshotCatalog(out_dir)

    # committed docs of earlier runs: the resume key set, and the prior part
    # of the entities/edges recompute below
    prior_docs = catalog.read_table(spark, "docs")
    if prior_docs is not None:
        # AQE converts this to a broadcast anti-join when the committed
        # url set is small; at 10^12 scale it stays a shuffle anti-join
        # co-partitioned with the url-hash repartition below.
        pages = pages.join(prior_docs.select("url").distinct(), "url", "left_anti")

    pages = partition_pages(pages, num_partitions)

    # mock-NER is fused into the extract pass (one Arrow trip for the text)
    docs_raw = extract_docs(pages)

    # Storage-checkpoint pattern: materialize the extract output ONCE to
    # parquet, then feed every downstream table from column-pruned reads of
    # that snapshot. Caching the full frame instead (text + mention arrays)
    # measurably thrashes executor memory at corpus scale; a parquet read
    # prunes to exactly the 1-2 columns each consumer needs.
    catalog.write_snapshot(docs_raw, "docs", snapshot_id)
    # downstream processes THIS run's increment only (committed earlier
    # snapshots were fully processed by their own runs)
    docs_raw = catalog.read_snapshot(spark, "docs", snapshot_id)

    audit = _audit_from_docs(docs_raw, snapshot_id)
    _PRIVATE = [f.name for f in DOCS_SCHEMA.fields if f.name.startswith("_")]

    clean = docs_raw.select("url", "extracted_text", "error").where(
        F.col("error").isNull()
    )
    # entities/edges are DERIVED AGGREGATES, not append tables: a
    # per-increment aggregation would split counts across snapshots, apply
    # min_count per increment (dropping cross-snapshot co-occurrences) and
    # turn limit into a per-increment top-N. Recompute them over the FULL
    # committed docs (prior runs + this increment) each run; readers take
    # the latest run's result.
    full_docs = docs_raw if prior_docs is None else prior_docs.unionByName(docs_raw)
    full_docs = full_docs.where(F.col("error").isNull())
    # the tables built from the docs, as builders: each frame is built in the
    # thread that writes it, so plan analysis (a py4j round trip per column
    # expression) overlaps the writes already running
    builders: dict[str, Callable[[], DataFrame]] = {
        "mentions": lambda: _mentions_from_docs(docs_raw),
        "dates": lambda: extract_dates(clean),
        # native pair combination over the fused _mentions — the Python
        # re-extraction variant cost half the pipeline wall (see
        # extract_rels_from_mentions)
        "rels": lambda: extract_rels_from_mentions(docs_raw),
        "chunks": lambda: extract_chunks(clean),
        "claims": lambda: extract_claims_df(clean),
        # the docs' `_mentions` explode to exactly the mentions table's
        # rows, so entities never wait on the mentions write
        "entities": lambda: aggregate_entities(
            filter_valid_mentions(_mentions_from_docs(full_docs))
        ),
        # Edges build from the fused `_names` arrays (the sorted distinct
        # valid lowered names the extract pass already computed):
        # output-identical to comention_edges over the exploded valid
        # mentions (verified equal on the full bench corpus) with one narrow
        # explode instead of a mention-row explode + per-doc re-aggregation
        # — half the shuffles.
        "edges": lambda: comention_edges_from_name_sets(full_docs),
    }

    # Every table left to write reads only docs snapshots already on disk
    # (this run's and the committed runs'), never another table of this run,
    # so the writes are independent jobs: submit them all at once from
    # worker threads and let Spark's scheduler interleave their stages (each
    # job alone underutilizes the executors during its narrow final write
    # stage). Each callable carries the caller's local properties (job
    # group, description, scheduler pool), so cancelling the caller's job
    # group stops the wave too. Run-level atomicity is untouched: commit_run
    # happens only after the barrier below.
    wave = {**builders, "audit": lambda: audit}

    def write(name: str, build: Callable[[], DataFrame]) -> dict:
        return catalog.write_snapshot(build(), name, snapshot_id)

    with ThreadPoolExecutor(max_workers=len(wave)) as ex:
        futures = [
            ex.submit(inheritable_thread_target(spark)(write), name, build)
            for name, build in wave.items()
        ]
        for fut in futures:
            fut.result()  # surface the first failure, keep run orphaned
    # run-level atomic commit point: ONLY now does this increment become
    # visible to readers and to resume. A crash anywhere above leaves an
    # invisible orphan run whose urls are re-extracted next time — no
    # half-committed increment, no silently lost downstream rows.
    catalog.commit_run(snapshot_id, ["docs", *wave])

    # expose committed data; public docs view prunes the internal columns
    _DERIVED = ("entities", "edges")
    tables = {
        name: (
            catalog.read_table_latest(spark, name)
            if name in _DERIVED
            else catalog.read_table(spark, name)
        )
        for name in ["docs", *builders]
    }
    tables["docs"] = tables["docs"].drop(*_PRIVATE)

    return PipelineResult(snapshot_id=snapshot_id, tables=tables, audit=audit)
