"""End-to-end Spark pipeline tests: byte-identity vs the oracle, audit
reconciliation, checkpoint resume, and plan hygiene."""

import pandas as pd
import pytest

from pyspark.sql import functions as F

from arkhammirror_spark.datagen import gen_pages_df, gen_pages_pandas
from arkhammirror_spark.operators.extract import extract_one
from arkhammirror_spark.operators.entities import (
    filter_valid_mentions,
    valid_entity_col,
)
from arkhammirror_spark.pipeline import (
    detect_heavy_hosts,
    run_pipeline,
    salted_host_stats,
)
from arkhammirror_spark.reference_impl import is_valid_entity, mock_ner

N_ROWS = 300
SEED = 42


@pytest.fixture(scope="module")
def pages(spark):
    return gen_pages_df(spark, N_ROWS, seed=SEED).cache()


@pytest.fixture(scope="module")
def result(spark, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("snap"))
    return run_pipeline(spark, pages, out_dir=out, num_partitions=8), out


def test_gen_pages_df_equals_gen_pages_pandas(spark):
    """The Spark generator is row for row the pandas one: same ids in the
    same order, warc_ts to the microsecond, html to the byte."""
    got = gen_pages_df(spark, 50, seed=3).withColumn("us", F.unix_micros("warc_ts")).collect()
    want = gen_pages_pandas(50, seed=3)
    assert len(got) == len(want) == 50
    for g, (_, w) in zip(got, want.iterrows()):
        assert g["url"] == w["url"]
        assert g["us"] == w["warc_ts"].value // 1000
        assert (bytes(g["html"]) if g["html"] is not None else None) == w["html"]
        assert (g["text"], g["lang"], g["kind"]) == (w["text"], w["lang"], w["kind"])


class TestExtractByteIdentity:
    def test_extracted_text_matches_oracle_per_url(self, spark, pages, result):
        res, _ = result
        got = {
            r["url"]: (r["extracted_text"], r["lang"], r["error"])
            for r in res.tables["docs"].collect()
        }
        src = gen_pages_pandas(N_ROWS, seed=SEED)
        assert len(got) == N_ROWS
        mismatches = []
        for _, row in src.iterrows():
            payload = bytes(row["html"]) if row["html"] is not None else None
            oracle = extract_one(payload, row["text"], row["kind"])
            g = got[row["url"]]
            if g[0] != oracle["extracted_text"]:
                mismatches.append(row["url"])
        assert mismatches == []

    def test_poison_rows_quarantined_not_fatal(self, result):
        res, _ = result
        docs = res.tables["docs"]
        errs = docs.where(F.col("error").isNotNull())
        assert errs.count() > 0  # datagen plants truncated PDFs
        assert docs.count() == N_ROWS  # nothing dropped, nothing crashed

    def test_duplicates_share_checksum(self, result):
        res, _ = result
        docs = res.tables["docs"]
        dup = (
            docs.groupBy("checksum")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > 1)
        )
        assert dup.count() > 0  # datagen plants exact duplicates


class TestSpans:
    def test_mentions_match_oracle(self, spark, result):
        res, _ = result
        docs = {r["url"]: r["extracted_text"] for r in res.tables["docs"].collect()}
        got = {}
        for r in res.tables["mentions"].collect():
            got.setdefault(r["url"], []).append(r["text"])
        for url, text in docs.items():
            expected = [m["text"] for m in mock_ner(text)] if text else []
            assert sorted(got.get(url, [])) == sorted(expected), url

    def test_chunk_roundtrip(self, result):
        res, _ = result
        chunks = res.tables["chunks"]
        # chunk indices are dense per url
        w = (
            chunks.groupBy("url")
            .agg(F.count(F.lit(1)).alias("n"), F.max("chunk_index").alias("mx"))
            .where(F.col("n") != F.col("mx") + 1)
        )
        assert w.count() == 0


class TestEntityFilterNativeParity:
    def test_native_filter_equals_python(self, spark, result):
        res, _ = result
        rows = res.tables["mentions"].select("text", "entity_type").distinct().collect()
        sdf = spark.createDataFrame(rows)
        kept_native = {
            (r["text"], r["entity_type"])
            for r in sdf.where(valid_entity_col(F.col("text"), F.col("entity_type"))).collect()
        }
        kept_python = {
            (r["text"], r["entity_type"])
            for r in rows
            if is_valid_entity(r["text"], r["entity_type"])
        }
        assert kept_native == kept_python


class TestEdges:
    def test_edge_semantics_small_case(self, spark):
        pdf = pd.DataFrame(
            {
                "doc_id": ["d1", "d1", "d2", "d2", "d3", "d3", "d3"],
                "text": ["Acme Corp", "John Smith", "Acme Corp", "John Smith",
                         "Acme Corp", "John Smith", "Acme Corp"],
                "entity_type": ["ORG"] * 7,
                "start_char": [0] * 7,
                "end_char": [0] * 7,
                "confidence": [0.5] * 7,
            }
        )
        from arkhammirror_spark.operators.edges import comention_edges

        edges = comention_edges(spark.createDataFrame(pdf)).collect()
        assert len(edges) == 1
        e = edges[0]
        assert (e["entity_a"], e["entity_b"]) == ("acme corp", "john smith")
        assert e["co_occurrence_count"] == 3
        assert abs(e["weight"] - 0.3) < 1e-12

    def test_ordered_pairs_at_every_small_size(self, spark):
        """Every i<j pair in order; no pairs (and no error) for a null,
        empty or one-element array."""
        from itertools import combinations

        from arkhammirror_spark.operators.edges import ordered_pairs

        arrays = [None, [], ["a"], ["a", "b"], ["a", "b", "c", "d"]]
        df = spark.createDataFrame(
            [(i, a) for i, a in enumerate(arrays)], "i int, names array<string>"
        )
        got = {
            r["i"]: [(p["x"], p["y"]) for p in r["p"] or []]
            for r in df.select("i", ordered_pairs(F.col("names"), "x", "y").alias("p")).collect()
        }
        assert got == {i: list(combinations(a or [], 2)) for i, a in enumerate(arrays)}


class TestAuditAndResume:
    def test_audit_reconciles(self, result):
        res, _ = result
        audit = res.audit.collect()
        assert sum(r["input_rows"] for r in audit) == N_ROWS
        docs = res.tables["docs"]
        ok = docs.where(F.col("error").isNull()).count()
        bad = docs.where(F.col("error").isNotNull()).count()
        assert sum(r["output_rows"] for r in audit) == ok
        assert sum(r["error_rows"] for r in audit) == bad
        assert all(r["wall_ms"] >= 0 for r in audit)
        # one audit row per extract task of the 8-way url repartition
        assert all(r["partition_id"] in range(8) for r in audit)

    def test_resume_skips_committed_urls(self, spark, pages, result):
        res, out = result
        # second run over the same input: everything already committed
        res2 = run_pipeline(spark, pages, out_dir=out, num_partitions=8)
        audit2 = res2.audit.collect()
        assert sum(r["input_rows"] for r in audit2) == 0
        # but the union view still exposes all N_ROWS docs
        assert res2.tables["docs"].select("url").distinct().count() == N_ROWS


class TestSkewHandling:
    def test_salted_host_stats_match_plain_groupby(self, spark, pages):
        salted = {r["host"]: r["n_pages"] for r in salted_host_stats(pages).collect()}
        from arkhammirror_spark.pipeline import host_col

        plain = {
            r["host"]: r["n"]
            for r in pages.select(host_col(F.col("url")).alias("host"))
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert salted == plain

    def test_mega_host_detected(self, spark, pages):
        heavy = detect_heavy_hosts(pages, threshold_fraction=0.10)
        assert "mega-portal.example" in heavy


class TestPlanHygiene:
    def test_single_python_node_in_extract_plan(self, spark, pages):
        from arkhammirror_spark.operators.extract import extract_docs

        plan = extract_docs(pages)._jdf.queryExecution().executedPlan().toString()
        # exactly one Arrow/Python map node; no row-at-a-time BatchEvalPython
        assert "BatchEvalPython" not in plan

    def test_extract_docs_schema_is_docs_schema(self, spark, pages):
        """One output schema, mentions fused, whether or not the pages
        declare a `kind`."""
        from arkhammirror_spark.operators.extract import extract_docs
        from arkhammirror_spark.schemas import DOCS_SCHEMA

        assert "kind" in pages.columns
        assert extract_docs(pages).schema == DOCS_SCHEMA
        assert extract_docs(pages.drop("kind")).schema == DOCS_SCHEMA

    def test_docs_scan_prunes_columns(self, spark, tmp_path):
        # write pages, read back, extract: the parquet scan must not read `lang`
        p = str(tmp_path / "pages")
        gen_pages_df(spark, 50, seed=1).write.parquet(p)
        from arkhammirror_spark.operators.extract import extract_docs

        df = extract_docs(spark.read.parquet(p))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "lang" not in plan.split("ReadSchema")[-1][:400]


class TestExtractionStats:
    def test_stats_match_full_pipeline(self, spark, pages, tmp_path):
        from arkhammirror_spark.pipeline import run_extraction_stats, run_pipeline

        stats = run_extraction_stats(spark, pages, num_partitions=8)
        res = run_pipeline(spark, pages, out_dir=str(tmp_path / "catalog"), num_partitions=8)
        assert stats["docs"] == res.tables["docs"].count() == N_ROWS
        assert stats["errors"] == res.tables["docs"].where("error is not null").count()
        assert stats["mentions"] == res.tables["mentions"].count()
        assert stats["edges"] == res.tables["edges"].count()
        # every table reads its committed snapshot (FileScan), never a
        # cached frame carrying extracted_text/_mentions
        for name, df in res.tables.items():
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "InMemoryRelation" not in plan, f"{name} reads a cached frame"

    def test_name_set_edges_equal_mention_edges(self, spark, pages):
        from pyspark.sql import functions as F
        from arkhammirror_spark.operators.edges import (
            comention_edges,
            comention_edges_from_name_sets,
        )
        from arkhammirror_spark.operators.entities import filter_valid_mentions
        from arkhammirror_spark.operators.extract import extract_docs

        docs_raw = extract_docs(pages).where("error is null")
        m = docs_raw.select(
            F.col("url").alias("doc_id"), F.explode("_mentions").alias("mm")
        ).select("doc_id", "mm.*")
        via_mentions = comention_edges(filter_valid_mentions(m)).collect()
        via_names = comention_edges_from_name_sets(docs_raw).collect()
        assert sorted(map(tuple, via_mentions)) == sorted(map(tuple, via_names))


class TestRunLevelCommit:
    def test_orphan_snapshot_is_invisible_and_reextracted(self, spark, tmp_path):
        """A docs snapshot without its run manifest (crash between table
        writes) must not count as committed: resume re-extracts those urls and
        downstream tables end up complete."""
        from arkhammirror_spark.catalog import ParquetSnapshotCatalog

        out = str(tmp_path / "snap")
        pages = gen_pages_df(spark, 60, seed=7)
        cat = ParquetSnapshotCatalog(out)
        # simulate the crash window: docs snapshot on disk, run never committed
        from arkhammirror_spark.operators.extract import extract_docs
        from arkhammirror_spark.pipeline import partition_pages

        docs_raw = extract_docs(partition_pages(pages, 4))
        cat.write_snapshot(docs_raw, "docs", "orphanrun")
        assert cat.read_table(spark, "docs") is None  # invisible without a run

        res = run_pipeline(spark, pages, out_dir=out, num_partitions=4)
        assert res.tables["docs"].select("url").distinct().count() == 60
        assert res.tables["mentions"].count() > 0
        audit = res.audit.collect()
        assert sum(r["input_rows"] for r in audit) == 60  # nothing skipped

    def test_incremental_equals_fresh_for_derived_aggregates(self, spark, tmp_path):
        """entities/edges after two incremental runs must equal a fresh
        single-shot run over the union (counts not split across snapshots,
        min_count and limit applied globally)."""
        out_inc = str(tmp_path / "inc")
        out_full = str(tmp_path / "full")
        all_pages = gen_pages_df(spark, 120, seed=11)
        first = all_pages.limit(60)

        run_pipeline(spark, first, out_dir=out_inc, num_partitions=4)
        res_inc = run_pipeline(spark, all_pages, out_dir=out_inc, num_partitions=4)
        res_full = run_pipeline(spark, all_pages, out_dir=out_full, num_partitions=4)

        for table in ("entities", "edges"):
            inc_rows = sorted(map(tuple, res_inc.tables[table].collect()))
            full_rows = sorted(map(tuple, res_full.tables[table].collect()))
            assert inc_rows == full_rows, table


class TestNativeRels:
    def test_native_rels_equal_python_rels(self, spark, pages):
        """extract_rels_from_mentions (native pair combination) must match the
        Arrow-batched reference-path extract_rels row-for-row on the mock-NER
        pipeline."""
        from arkhammirror_spark.operators.extract import extract_docs
        from arkhammirror_spark.operators.spans import (
            extract_rels,
            extract_rels_from_mentions,
        )

        docs_raw = extract_docs(pages)
        clean = docs_raw.select("url", "extracted_text", "error").where(
            "error is null"
        )
        via_python = sorted(map(tuple, extract_rels(clean).collect()))
        via_native = sorted(map(tuple, extract_rels_from_mentions(docs_raw).collect()))
        assert via_native == via_python
        assert len(via_native) > 0


def _snapshot_path(out, table, run_id):
    import os

    return os.path.join(out, table, f"snapshot={run_id}")


class TestObservedRowCounts:
    def test_manifest_rows_equal_reread_counts(self, spark, tmp_path, monkeypatch):
        """Manifest `rows` comes from an Observation on the write itself; it
        must equal an independent re-read count for every table of a cold
        run and of a resume run offered no new pages. In the zero-page run
        AQE may prune the empty plans, and write_snapshot must still return
        rows == 0 instead of waiting in Observation.get."""
        import json
        import threading

        from arkhammirror_spark.catalog import ParquetSnapshotCatalog

        out = str(tmp_path / "snap")
        pages = gen_pages_df(spark, 60, seed=5)
        returned = []
        write = ParquetSnapshotCatalog.write_snapshot

        def spy(cat, df, table, snapshot_id):
            manifest = write(cat, df, table, snapshot_id)
            returned.append(manifest)
            return manifest

        monkeypatch.setattr(ParquetSnapshotCatalog, "write_snapshot", spy)
        cold = run_pipeline(spark, pages, out_dir=out, num_partitions=4)
        done = {}
        t = threading.Thread(
            target=lambda: done.update(
                res=run_pipeline(spark, pages, out_dir=out, num_partitions=4)
            ),
            daemon=True,
        )
        t.start()
        t.join(timeout=300)
        assert not t.is_alive(), "zero-page resume blocked in write_snapshot"
        resume = done["res"]

        runs = ParquetSnapshotCatalog(out).committed_runs()
        assert [r["run_id"] for r in runs] == [cold.snapshot_id, resume.snapshot_id]
        for run in runs:
            assert len(run["tables"]) == 9
            for table in run["tables"]:
                path = _snapshot_path(out, table, run["run_id"])
                with open(f"{path}/_MANIFEST.json") as fh:
                    rows = json.load(fh)["rows"]
                assert rows == spark.read.parquet(path).count(), (run["run_id"], table)

        by_run = {}
        for m in returned:
            by_run.setdefault(m["snapshot_id"], {})[m["table"]] = m["rows"]
        assert by_run[cold.snapshot_id]["docs"] == 60
        zero = by_run[resume.snapshot_id]
        assert sorted(zero) == sorted(runs[1]["tables"])
        for table, rows in zero.items():
            # derived aggregates are recomputed over every committed doc
            want = by_run[cold.snapshot_id][table] if table in ("entities", "edges") else 0
            assert rows == want, table
        assert zero["entities"] > 0 and zero["edges"] > 0


class TestManifestSchemaReads:
    def test_reads_match_inference_and_start_no_job(self, spark, tmp_path):
        """read_table / read_table_latest / read_snapshot pin the manifest
        schema: the same schema (nullability included) and rows as plain
        parquet inference, and no Spark job to open a committed table."""
        from pyspark.sql.types import ArrayType, StructType

        from arkhammirror_spark.catalog import ParquetSnapshotCatalog

        out = str(tmp_path / "snap")
        run_pipeline(spark, gen_pages_df(spark, 30, seed=9), out_dir=out, num_partitions=4)
        run_pipeline(spark, gen_pages_df(spark, 40, seed=9), out_dir=out, num_partitions=4)
        cat = ParquetSnapshotCatalog(out)
        runs = cat.committed_runs()
        assert len(runs) == 2
        ids = [r["run_id"] for r in runs]
        sc = spark.sparkContext
        tracker = sc.statusTracker()

        def jobs_started(group, fn):
            sc.setJobGroup(group, group)
            try:
                return fn(), tracker.getJobIdsForGroup(group)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        # the probe sees an inference job when one runs
        _, probe = jobs_started(
            "infer-probe", lambda: spark.read.parquet(_snapshot_path(out, "docs", ids[0]))
        )
        assert probe, "schema inference started no job; the probe below proves nothing"

        for table in runs[0]["tables"]:
            paths = [_snapshot_path(out, table, i) for i in ids]
            reads, jobs = jobs_started(
                f"pinned-read-{table}",
                lambda: {
                    "read_table": cat.read_table(spark, table),
                    "read_table_latest": cat.read_table_latest(spark, table),
                    "read_snapshot": cat.read_snapshot(spark, table, ids[0]),
                },
            )
            assert jobs == [], f"{table}: opening a committed table started jobs {jobs}"
            inferred = {
                "read_table": spark.read.parquet(*paths),
                "read_table_latest": spark.read.parquet(paths[-1]),
                "read_snapshot": spark.read.parquet(paths[0]),
            }
            for how, df in reads.items():
                assert df.schema == inferred[how].schema, (table, how)
                got = sorted(map(str, df.collect()))
                assert got == sorted(map(str, inferred[how].collect())), (table, how)

        docs = cat.read_table(spark, "docs").schema
        assert "warc_ts" in docs.fieldNames()
        mentions = docs["_mentions"].dataType
        assert isinstance(mentions, ArrayType) and isinstance(mentions.elementType, StructType)
