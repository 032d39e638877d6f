"""IVF inverted lists materialized as a parquet table bucketed by list_id:
a probe prunes buckets at the scan and returns what the in-memory probe
returns."""


def _write_bucketed_lists(assigned, table: str) -> None:
    assigned.write.format("parquet").mode("overwrite").bucketBy(
        8, "list_id"
    ).sortBy("list_id").saveAsTable(table)


def test_ivf_lists_materialize_bucketed_and_prune(spark, tmp_path):
    """The IVF scale story end to end: fit once, materialize the inverted
    lists BUCKETED BY list_id, and verify a probe's list_id IN (...) filter
    prunes buckets at the SCAN (SelectedBucketsCount < total) — repeated
    ANN queries then touch ~n_probe/n_lists of the storage, no re-fit,
    no full scan. This is the parquet analogue of pgvector's ivfflat
    index scan (vectors.py:469-548)."""
    import random

    from pyspark.sql import functions as F

    from arkhammirror_spark.operators.similarity import fit_ivf, ivf_probe

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    centers, assigned = fit_ivf(emb)

    spark.sql("DROP TABLE IF EXISTS ivf_lists_test")
    # a crashed earlier run can leave the warehouse dir without a catalog
    # entry — saveAsTable then fails LOCATION_ALREADY_EXISTS
    import shutil

    shutil.rmtree("spark-warehouse/ivf_lists_test", ignore_errors=True)
    _write_bucketed_lists(assigned, "ivf_lists_test")
    lists = spark.table("ivf_lists_test")

    qv = rows[3][1]
    # the planner auto-disables bucketed scans when no operator consumes
    # the bucketing's output partitioning; a probe-only scan must force it
    # to get FILE-level bucket pruning (row-group pruning via the pushed
    # IN-filter happens regardless)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        out = ivf_probe(lists, centers, qv, k=5, n_probe=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    assert "SelectedBucketsCount" in plan, plan[:2000]
    import re as _re

    m = _re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m and int(m.group(1)) < int(m.group(2))
    # probe over the materialized table ≡ probe over the in-memory frame
    direct = ivf_probe(assigned, centers, qv, k=5, n_probe=2)
    assert [r["vec_id"] for r in out.collect()] == [
        r["vec_id"] for r in direct.collect()
    ]
    spark.sql("DROP TABLE IF EXISTS ivf_lists_test")


def test_ivf_filtered_probe_prunes_before_distance(spark, tmp_path):
    """Payload-filtered ANN (vectors.py:856-934, filter arm :920-925):
    the metadata predicate AND the probe's list_id IN (...) both reach
    the parquet scan of the materialized inverted lists — file-level
    bucket pruning (SelectedBucketsCount < total) plus PushedFilters on
    the payload column — so filtered-out rows never reach the cosine
    projection. Results must equal the brute-force filtered top-k."""
    import random
    import re as _re
    import shutil

    from pyspark.sql import functions as F

    from arkhammirror_spark.operators.similarity import (
        brute_force_topk, fit_ivf, ivf_probe,
    )

    rng = random.Random(23)
    base = [rng.gauss(0, 1) for _ in range(8)]
    rows = []
    for i in range(240):
        if i < 12:  # planted clones of the query direction
            v = [x + 0.001 * i * ((j + i) % 5 - 2) for j, x in enumerate(base)]
        else:
            v = [rng.gauss(0, 1) for _ in range(8)]
        rows.append((i, v, f"cat{i % 3}"))
    emb = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>, category: string"
    )
    centers, assigned = fit_ivf(emb, carry_cols=["category"])

    spark.sql("DROP TABLE IF EXISTS ivf_lists_filt_test")
    shutil.rmtree("spark-warehouse/ivf_lists_filt_test", ignore_errors=True)
    _write_bucketed_lists(assigned, "ivf_lists_filt_test")
    lists = spark.table("ivf_lists_filt_test")

    pred = F.col("category") == "cat1"
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    )
    try:
        out = ivf_probe(lists, centers, base, k=4, n_probe=3, predicate=pred)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true"
        )
    m = _re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m and int(m.group(1)) < int(m.group(2)), plan[:2000]
    pushed = _re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "category" in pushed.group(1), plan[:2000]

    # filtered probe ≡ brute-force top-k over the filtered pool: the
    # cat1 clones (1,4,7,10) are within 1% of the query direction, so
    # they are the exact filtered top-4 AND share the query's inverted
    # list for any KMeans init
    exp = brute_force_topk(
        emb.where(pred), base, k=4
    ).collect()
    got = out.collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in exp]
    assert all(r["vec_id"] % 3 == 1 and r["vec_id"] < 12 for r in got)
    spark.sql("DROP TABLE IF EXISTS ivf_lists_filt_test")
