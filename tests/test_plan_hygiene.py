"""Plan-hygiene gate: every registry query must be free of row-at-a-time
Python, keep the plan shape and output schema recorded in
plans/shapes.json, start no more Spark jobs than recorded there, and
document-table queries must column-prune their scans. Each part runs once,
at sf0.001 to a noop sink. The structural rules beside it include the
dead-module and dead-function guards (every package module and top-level
function is reached from an entry point)."""

import json
from pathlib import Path

import pytest

from arkhammirror_spark.plans import (
    has_row_python,
    python_node_count,
    pushed_filters,
    read_schema,
    unpartitioned_windows,
)
from arkhammirror_spark.queries import QUERIES
from bench_extra import part_record
from perfbench.run import MIX

SF = "/root/testdata/sf0.001"

# every part's node counts per kind, output schema and Spark jobs (its job
# budget); `python bench_extra.py shapes` rewrites it
_SHAPES = json.loads(
    (Path(__file__).resolve().parent.parent / "plans" / "shapes.json").read_text()
)

# (min, max) Arrow-batched python nodes a query's plan may print. Queries
# whose semantics genuinely need grouped-pandas execution get exactly one
# node per branch; plans that print a reused subtree in several branches
# (execution reuses the exchange) get a wider bound.
_ARROW_BOUNDS = {
    "mentions": (1, 1),
    "entities": (1, 1),
    "comention_edges": (1, 1),
    "claims": (1, 1),
    "relations_cooccur": (1, 1),
    "chunk_fixed": (1, 1),
    "chunk_sentences": (1, 1),
    "coref_resolutions": (1, 1),
    "format_extracts": (1, 1),
    "archive_members": (1, 1),
    "rels_dedup": (1, 1),
    "edge_degrees": (1, 2),       # union prints the edge subtree twice
    "linked_mentions": (0, 1),    # checkpointed mention pass truncates lineage
    "graph_stats": (1, 3),        # stats crossJoin prints the edge subtree 3x
    # iterative graph queries checkpoint per round; the residual nodes are
    # the final round's (bounded) join branches
    "graph_components": (0, 2),
    "graph_pagerank": (0, 2),
    "graph_ego": (0, 2),          # operates on checkpointed edges
    "warc_ingest": (2, 2),        # WARC parse pass + extract pass
    "ann_ivf_topk": (0, 0),       # MLlib fit happens at plan build
    "chunk_strategy_paragraph": (1, 1),
    "ner_model_mentions": (1, 1),
    "image_quality": (1, 1),      # the five-heuristic metrics pass
    "audio_features": (1, 1),
    "video_frame_samples": (1, 1),
    "image_features": (1, 1),     # the gated decode mapInPandas pass
    "main_content": (1, 1),       # DOM flatten pass; scoring is native
    # the flatten pass and the shingle pass are both checkpoint-truncated:
    # no Python node may survive into the final plan
    "webtext_prep": (0, 0),
    # the top 10 return through local_frame, which truncates the transit pass
    "graph_betweenness": (0, 0),
    "image_phash": (1, 1),        # the gated decode+hash mapInPandas pass
    "image_neardup": (0, 0),      # slim sigs checkpoint truncates the pass
    # full_scan lazily localCheckpoints its UDF output, so the printed
    # plan is already truncated to the checkpoint scan (0 nodes)
    "media_metadata": (0, 1),
    "ela_metrics": (1, 1),        # the gated resave+diff pass
    "c2pa_scan": (1, 1),          # the stdlib JUMBF sniff pass
    # lazy-checkpointed slim occurrence frame, same truncation
    "entity_correlations": (0, 4),
    # one Arrow pass: the entropy/LSB/magic scan (hashes stay native)
    "hidden_content": (1, 1),
}


@pytest.mark.parametrize("name", sorted(QUERIES.keys()))
def test_no_row_python_and_bounded_arrow(spark, name):
    df, shape = part_record(spark, QUERIES, name, SF)
    want = _SHAPES[name]
    # the sweep is bound by per-job fixed cost: a fixture read that infers
    # its schema, a count() beside a collect(), or a per-round loop where a
    # bounded driver lane fits adds jobs, and fails here
    jobs = shape.pop("jobs")
    assert jobs <= want["jobs"], f"{name}: {jobs} Spark jobs, budget {want['jobs']}"
    assert not has_row_python(df), f"{name}: BatchEvalPython in plan"
    n_py = python_node_count(df)
    lo, hi = _ARROW_BOUNDS.get(name, (0, 0))
    assert lo <= n_py <= hi, (
        f"{name}: expected {lo}..{hi} Arrow node(s), got {n_py}"
    )
    # No single-partition WindowExec anywhere in a registry query's plan
    # (`WARN WindowExec: No Partition Defined` — the global-rank
    # scale-killer; r8 replaced every such site with distributed top-k /
    # range-partitioned rank constructions).
    wins = unpartitioned_windows(df)
    assert not wins, f"{name}: unpartitioned Window node(s): {wins}"
    # the oracle gate compares values only: a padded column drifting from
    # int to bigint would pass it, so each part's output schema is pinned
    assert shape.pop("schema") == want["schema"], f"{name}: output schema moved"
    assert shape == {
        k: v for k, v in want.items() if k not in ("schema", "jobs")
    }, f"{name}: plan shape moved"


def test_document_scans_are_pruned(spark):
    # native doc queries must not read lang/source columns they don't use
    for name in ("text_quality_flags", "doc_fingerprint", "token_stats"):
        schemas = read_schema(QUERIES[name](spark, SF))
        assert schemas, name
        assert all("source" not in s and "lang" not in s for s in schemas), (
            name,
            schemas,
        )


def test_filter_pushdown_reaches_parquet(spark):
    pushed = pushed_filters(QUERIES["pricing_summary"](spark, SF))
    assert any("l_shipdate" in p for p in pushed)
    pushed = pushed_filters(QUERIES["embedding_knn"](spark, SF))
    assert any("vec_id" in p for p in pushed)


def test_fuzzy_linking_is_blocked_equi_join(spark):
    """The fuzzy tier must compile to a shuffled/broadcast HASH equi-join on
    the block key — never a BroadcastNestedLoopJoin (O(M×C) Levenshtein)."""
    from arkhammirror_spark.operators.linking import link_mentions

    mentions = spark.createDataFrame(
        [("u1", "Acme Corp"), ("u2", "Acme Corpx")], "url: string, text: string"
    )
    canon = spark.createDataFrame(
        [("acme corp", "C1")], "name_lower: string, canonical_id: string"
    )
    plan = (
        link_mentions(mentions, canon)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_contradiction_candidates_no_cartesian(spark):
    from arkhammirror_spark.operators.contradictions import candidate_claim_pairs

    claims = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "claim_id: long, claim_text: string"
    )
    plan = (
        candidate_claim_pairs(claims)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    # the only permissible nested-loop is the 1-row corpus-count broadcast
    # (cost O(|vocab|)); the claim-pair join itself must never nested-loop
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "cid" not in line and "id_a" not in line, line
            assert "_n#" in line, line  # scalar count build side


def test_driver_java_options_merge():
    """Caller-supplied spark.driver.extraJavaOptions must be MERGED with
    the log4j2 deny-filter flag, not silently replaced (ADVICE r6) — and a
    caller pinning their own log4j config wins."""
    from arkhammirror_spark.session import _merge_driver_java_options

    flag = "-Dlog4j.configurationFile=file:/x/log4j2.properties"
    assert _merge_driver_java_options("", flag) == flag
    merged = _merge_driver_java_options("-XX:+UseG1GC -Dfoo=1", flag)
    assert flag in merged and "-XX:+UseG1GC" in merged and "-Dfoo=1" in merged
    pinned = "-Dlog4j.configurationFile=file:/theirs.properties -Dbar=2"
    assert _merge_driver_java_options(pinned, flag) == pinned


# Spark jobs one cold plus one resume run_pipeline may start (50 pages, then
# the same 50 plus 5 new ones). Measured at 28: every catalog write is one
# job, plus one where AQE runs a shuffle stage as its own job, and opening
# a committed table starts none (manifest row counts are observed on the
# write; reads pin the manifest schema). A re-read count() or a parquet
# schema inference per table read adds jobs, and fails this gate.
_PIPELINE_JOB_BUDGET = 28


def test_pipeline_job_budget(spark, tmp_path):
    from arkhammirror_spark.datagen import gen_pages_df
    from arkhammirror_spark.pipeline import run_pipeline

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out = str(tmp_path / "catalog")
    cold, both = gen_pages_df(spark, 50, seed=3), gen_pages_df(spark, 55, seed=3)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("pipeline-job-budget", "cold + resume run_pipeline")
    try:
        run_pipeline(spark, cold, out_dir=out, num_partitions=4)
        run_pipeline(spark, both, out_dir=out, num_partitions=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the write wave's threads inherit the caller's job group, so every job
    # is counted (and sc.cancelJobGroup can stop all of them)
    lost = set(tracker.getJobIdsForGroup(None)) - ungrouped
    assert not lost, f"jobs {sorted(lost)} ran outside the caller's job group"
    jobs = tracker.getJobIdsForGroup("pipeline-job-budget")
    assert len(jobs) <= _PIPELINE_JOB_BUDGET, (
        f"{len(jobs)} Spark jobs for a cold + resume run_pipeline, budget "
        f"{_PIPELINE_JOB_BUDGET}"
    )


# The benchmark's analyst mix, each part run as the benchmark runs it: built
# and sent to a noop sink, with no plan walk between. Its budget is the
# part's recorded one in plans/shapes.json, so a part added to the mix
# without a record fails here too.
@pytest.mark.parametrize("name", sorted(MIX))
def test_analyst_part_job_budget(spark, name):
    sc = spark.sparkContext
    group = f"part-job-budget-{name}"
    sc.setJobGroup(group, name)
    try:
        QUERIES[name](spark, SF).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    budget = _SHAPES[name]["jobs"]
    assert jobs <= budget, f"{name}: {jobs} Spark jobs, budget {budget}"


# The one module that may start a pandas UDF: every other operator keeps
# only its per-row (or per-group, per-batch) function and runs through the
# lane, which also decides how nulls and instants cross into Python.
_PANDAS_UDF_MODULES = ["operators/lane.py"]


def test_pandas_udfs_only_in_the_lane():
    """mapInPandas/applyInPandas appear only in the module listed above,
    and it still uses one; only it calls `shipping.ensure_shipped`, which
    every pandas-UDF closure over the package needs."""
    import ast

    pkg = Path(__file__).resolve().parent.parent / "arkhammirror_spark"
    trees = {path.relative_to(pkg).as_posix(): ast.parse(path.read_text()) for path in pkg.rglob("*.py")}

    def modules(hit) -> set[str]:
        return {m for m, tree in trees.items() if any(hit(node) for node in ast.walk(tree))}

    udfs = modules(lambda n: isinstance(n, ast.Attribute) and n.attr in ("mapInPandas", "applyInPandas"))
    shipped = modules(lambda n: isinstance(n, ast.Call) and _call_name(n) == "ensure_shipped")
    listed = set(_PANDAS_UDF_MODULES)
    for what, found in (("pandas UDF", udfs), ("ensure_shipped call", shipped)):
        assert found == listed, (
            f"{what} outside the list: {sorted(found - listed)}; "
            f"listed without one: {sorted(listed - found)}"
        )


# Modules under arkhammirror_spark/ that no entry point imports, kept on
# purpose (with the packages enclosing them); none today — bench_extra.py's
# `shapes` mode reaches plans.inspect. Anything unreachable is dead code and
# fails the guard below.
_UNREACHABLE_OK: set[str] = set()


def _package_modules():
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent

    def name_of(path: Path) -> str:
        parts = path.relative_to(repo).with_suffix("").parts
        return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)

    files = {name_of(p): p for p in (repo / "arkhammirror_spark").rglob("*.py")}
    entry_points = [files[f"arkhammirror_spark.{m}"] for m in ("queries", "pipeline", "contract")]
    entry_points += [repo / f for f in ("bench.py", "bench_extra.py", "__spark_entry__.py")]
    entry_points += sorted((repo / "scripts").glob("*.py"))
    entry_points += sorted((repo / "perfbench").glob("*.py"))
    return files, entry_points, name_of


def _imported_from(roots, files, name_of) -> set[str]:
    """Package modules reached by walking ``ast`` import statements (module
    level and function local) from `roots`. Nothing is imported."""
    import ast

    seen: set[str] = set()
    todo = list(roots)

    def visit(target: str) -> None:
        # importing a module runs every enclosing package's __init__
        parts = target.split(".")
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in files and mod not in seen:
                seen.add(mod)
                todo.append(files[mod])

    for path in roots:
        visit(name_of(path))
    while todo:
        path = todo.pop()
        name = name_of(path)
        here = name.split(".") if path.name == "__init__.py" else name.split(".")[:-1]
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                targets = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    pkg = here[: len(here) - node.level + 1]
                    base = ".".join(pkg + ([node.module] if node.module else []))
                targets = [base] + [f"{base}.{a.name}" for a in node.names]
            else:
                continue
            for t in targets:
                visit(t)
    return seen


def test_no_unreachable_modules():
    """Every module under arkhammirror_spark/ is imported (transitively) by
    the registry, the pipeline, the contract, bench.py, bench_extra.py,
    __spark_entry__.py, scripts/ or perfbench/ — or is on the allow-list."""
    files, entry_points, name_of = _package_modules()
    reached = _imported_from(entry_points, files, name_of)
    assert "arkhammirror_spark.queries_ext3" in reached  # the walk follows the chain
    stale = sorted(_UNREACHABLE_OK & reached)
    assert not stale, f"allow-listed modules are reachable again: {stale}"
    kept = _imported_from(
        [files[m] for m in _UNREACHABLE_OK] + entry_points, files, name_of
    )
    dead = sorted(set(files) - kept)
    assert not dead, f"modules nothing imports: {dead}"


# Top-level functions and classes no entry point reaches, kept on purpose
# (with the helpers only they reach). Anything else unreached is test-only
# code and fails the guard below.
_TEST_ONLY_OK = {
    # test references for reachable code
    "arkhammirror_spark.operators.graph_algorithms.betweenness_centrality":
        "reference for graph.betweenness_distributed",
    "arkhammirror_spark.operators.spans.extract_rels":
        "reference for extract_rels_from_mentions",
    "arkhammirror_spark.operators.geospatial.haversine_py":
        "driver haversine the native haversine_km is tested against",
    "arkhammirror_spark.operators.phash.hamming_distance_hex":
        "the hamming distance the phash tests measure with",
    "arkhammirror_spark.operators.boilerplate.main_content_py":
        "Python twin of extract_main_content",
    "arkhammirror_spark.operators.boilerplate.select_blocks_py":
        "Python twin of extract_main_content's block selection",
    "arkhammirror_spark.operators.similarity.ivf_topk":
        "reference for fit_ivf/ivf_probe",
    "arkhammirror_spark.operators.embed_model.fake_embedding":
        "builds the vectors tests feed to the live ANN parts",
    "arkhammirror_spark.operators.graph.pagerank":
        "driver reference for pagerank_distributed",
    "arkhammirror_spark.operators.similarity.optimal_lists":
        "Python twin of ivf_health_check's optimal_lists column",
    "arkhammirror_spark.operators.similarity.optimal_probes":
        "Python twin of ivf_health_check's optimal_probes column",
    # plan assertions the hygiene tests make
    "arkhammirror_spark.plans.inspect.has_row_python": "no BatchEvalPython node",
    "arkhammirror_spark.plans.inspect.pushed_filters": "filter pushdown reaches parquet",
    "arkhammirror_spark.plans.inspect.read_schema": "document scans are column-pruned",
    "arkhammirror_spark.plans.inspect.unpartitioned_windows": "no single-partition Window",
    # the salted two-phase host aggregation the north rule names
    "arkhammirror_spark.pipeline.salted_host_stats": "salted host stats",
    "arkhammirror_spark.pipeline.detect_heavy_hosts": "heavy hosts off the salted stats",
    "arkhammirror_spark.pipeline.host_col": "host key of the salted stats",
    # the only callers of a reference_impl module: deleting either would
    # orphan a parity anchor
    "arkhammirror_spark.operators.spans.extract_chunks_semantic":
        "only caller of reference_impl.semantic_chunker",
    "arkhammirror_spark.operators.timeline.merge_timeline_events":
        "only caller of reference_impl.timeline_merge",
}


def _registered(node) -> bool:
    """The def is a part registered with `@register(...)`."""
    import ast

    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in node.decorator_list
    )


def _program_files() -> list:
    """Every non-test Python file: the package, bench.py, bench_extra.py,
    __spark_entry__.py, scripts/ and perfbench/."""
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    files = sorted((repo / "arkhammirror_spark").rglob("*.py"))
    files += [repo / f for f in ("bench.py", "bench_extra.py", "__spark_entry__.py")]
    return files + sorted((repo / "scripts").glob("*.py")) + sorted((repo / "perfbench").glob("*.py"))


def _top_level_defs():
    """(import-time root nodes, {qualified name: def node}) over the package
    (bar reference_impl/) and the entry-point scripts. Import-time code is
    everything outside def bodies; registered parts and the driver-contract
    functions of __spark_entry__.py are roots too."""
    import ast
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    roots, defs = [], {}
    for path in _program_files():
        if "reference_impl" in path.parts:
            continue
        mod = ".".join(path.relative_to(repo).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                roots.append(node)
                continue
            defs[f"{mod}.{node.name}"] = node
            # decorators, argument defaults and base classes run at import
            roots += node.decorator_list + getattr(node, "bases", [])
            if not isinstance(node, ast.ClassDef):
                roots += node.args.defaults + [d for d in node.args.kw_defaults if d]
            if _registered(node) or mod == "__spark_entry__":
                roots.append(ast.Name(node.name))
    return roots, defs


def _reached_names(roots, defs) -> set[str]:
    """Names of the defs referenced, transitively, from `roots`: a Name or
    an attribute equal to a def's name reaches every def of that name. An
    import alias or a string constant is not a use."""
    import ast

    by_name: dict[str, list] = {}
    for node in defs.values():
        by_name.setdefault(node.name, []).append(node)
    reached: set[str] = set()
    todo = list(roots)
    while todo:
        for node in ast.walk(todo.pop()):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            else:
                continue
            if name in by_name and name not in reached:
                reached.add(name)
                todo += by_name[name]
    return reached


def test_no_test_only_functions():
    """Every top-level function and class under arkhammirror_spark/ (bar
    reference_impl/) is reached from the package's import-time code, the
    registered parts, bench.py, bench_extra.py, __spark_entry__.py,
    scripts/ or perfbench/ — or is on the allow-list."""
    roots, defs = _top_level_defs()
    assert set(_TEST_ONLY_OK) <= set(defs), sorted(set(_TEST_ONLY_OK) - set(defs))
    reached = _reached_names(roots, defs)
    assert "comention_edges_from_name_sets" in reached  # the walk follows calls
    stale = sorted(q for q in _TEST_ONLY_OK if defs[q].name in reached)
    assert not stale, f"allow-listed functions are reachable again: {stale}"
    kept = _reached_names(roots + [defs[q] for q in _TEST_ONLY_OK], defs)
    dead = sorted(q for q, node in defs.items() if node.name not in kept and q not in _TEST_ONLY_OK)
    assert not dead, f"{len(dead)} functions only tests reach: {dead}"


# Defaulted parameters without two values in program use, kept on purpose.
# A test may keep one only to force one side of an auto-selected path that
# it proves equal to the other side, or to lower a safety ceiling so that a
# small input reaches it; a deployment setting, the corpus generator's
# identity and a parameter a reference-parity suite varies (`parity:`, the
# suite that skips without the reference tree) stay too. Any other option
# with one value in use is a constant, and a default no program call relies
# on goes; either fails the guard below.
_OPTION_OK = {
    # a test forces one side of an auto-selected path it proves equal to
    # the other side
    "arkhammirror_spark.operators.graph.connected_components_distributed.driver_cap":
        "driver_cap=None forces the loop the driver lane is proven equal to",
    "arkhammirror_spark.operators.graph.pagerank_distributed.driver_cap":
        "driver_cap=None forces the loop the driver lane is proven equal to",
    "arkhammirror_spark.operators.anomalies.content_anomalies.nn_mode":
        "forces the brute/banded lane the auto mode picks",
    "arkhammirror_spark.operators.graph.betweenness_distributed.sample_sources":
        "an explicit sample equals the automatic one",
    "arkhammirror_spark.sources.warc.build_warc.gzip_members":
        "plain members force the parser's non-gzip path, fuzzed against gzip",
    # a test lowers a safety ceiling so that a small input reaches it
    "arkhammirror_spark.operators.anomalies.content_anomalies.auto_brute_max":
        "the brute/banded switch point",
    "arkhammirror_spark.operators.graph.betweenness_distributed.edge_cap":
        "the edge ceiling that raises",
    "arkhammirror_spark.operators.graph.betweenness_distributed.auto_sample_above":
        "the node count past which sources are sampled",
    "arkhammirror_spark.operators.hidden_content.scan_payload.max_file_size_mb":
        "the payload size past which the scan skips",
    "arkhammirror_spark.operators.causal.find_causal_paths.max_length":
        "the path-length cutoff of the DFS",
    "arkhammirror_spark.operators.dedup.lsh_candidate_pairs.bucket_cap":
        "the hot-bucket cap",
    # deployment settings
    "arkhammirror_spark.shipping.build_package_zip.dest_dir":
        "where spark-submit users write the --py-files zip",
    "arkhammirror_spark.session.get_spark.master":
        "the Spark master each entry point picks",
    "arkhammirror_spark.session.get_spark.app_name":
        "the application name each entry point picks",
    "arkhammirror_spark.pipeline.run_pipeline.num_partitions":
        "the partition count perfbench and bench.py size to their cores",
    "arkhammirror_spark.pipeline.run_extraction_stats.num_partitions":
        "the partition count perfbench and bench.py size to their cores",
    # corpus identity: perfbench sets the seed and start of the pandas
    # generator; tests draw distinct seeded corpora from the Spark twin
    "arkhammirror_spark.datagen.pages.gen_pages_df.seed":
        "the seed of gen_pages_pandas' Spark twin",
    "arkhammirror_spark.datagen.pages.gen_pages_pandas.seed":
        "the corpus seed perfbench passes through",
    "arkhammirror_spark.datagen.pages.gen_pages_pandas.start":
        "the first page id of a generated increment",
    # a reference-parity suite (skipped without the reference tree) calls
    # the function with a value other than the program's one, or names the
    # parameter; narrowing it waits until that suite can run
    "arkhammirror_spark.operators.anomalies.content_anomalies.min_cluster_distance":
        "parity: test_anomaly_detector_parity.py passes 0.5 and 0.7",
    "arkhammirror_spark.operators.anomalies.statistical_anomalies.threshold":
        "parity: test_anomaly_detector_parity.py passes it by keyword",
    "arkhammirror_spark.operators.anomalies.zscore_anomalies.threshold":
        "parity: test_anomaly_detector_parity.py relies on the default",
    "arkhammirror_spark.operators.claims_ops.merge_claims.evidence":
        "parity: test_claims_similar_merge.py passes none and others",
    "arkhammirror_spark.operators.claims_ops.similar_claims.df_cap":
        "parity: test_claims_similar_merge.py runs uncapped",
    "arkhammirror_spark.operators.correlations.entity_correlations.entity_col":
        "parity: test_differential_correlations.py relies on the default",
    "arkhammirror_spark.operators.correlations.entity_correlations.top_k":
        "parity: test_differential_correlations.py runs unbounded",
    "arkhammirror_spark.operators.dedup.duplicate_groups.threshold":
        "parity: test_simhash_reference.py passes it by keyword",
    "arkhammirror_spark.operators.dedup.merge_documents.claims":
        "parity: test_merge_documents.py passes none and others",
    "arkhammirror_spark.operators.dedup.merge_documents.mentions":
        "parity: test_merge_documents.py passes none and others",
    "arkhammirror_spark.operators.entity_events.link_entities_to_events.entity_id_col":
        "parity: test_entity_events.py passes it by keyword",
    "arkhammirror_spark.operators.entity_events.link_entities_to_events.event_id_col":
        "parity: test_entity_events.py relies on the default",
    "arkhammirror_spark.operators.entity_events.link_entities_to_events.order_col":
        "parity: test_entity_events.py passes none and others",
    "arkhammirror_spark.operators.flows.aggregate_flows.max_links":
        "parity: test_ach_flows_extended.py passes 8",
    "arkhammirror_spark.operators.flows.aggregate_flows.min_value":
        "parity: test_ach_flows_extended.py passes 2.0",
    "arkhammirror_spark.operators.flows.extract_entity_flows.intermediate_types":
        "parity: test_ach_flows_extended.py passes none and others",
    "arkhammirror_spark.operators.flows.extract_entity_flows.source_types":
        "parity: test_ach_flows_extended.py passes none and others",
    "arkhammirror_spark.operators.flows.extract_entity_flows.target_types":
        "parity: test_ach_flows_extended.py passes none and others",
    "arkhammirror_spark.operators.graph.filter_graph.entity_types":
        "parity: test_graph_export.py runs unfiltered",
    "arkhammirror_spark.operators.graph.filter_graph.min_degree":
        "parity: test_graph_export.py runs unfiltered",
    "arkhammirror_spark.operators.graph.filter_graph.min_edge_weight":
        "parity: test_graph_export.py runs unfiltered",
    "arkhammirror_spark.operators.graph.filter_graph.relationship_types":
        "parity: test_graph_export.py runs unfiltered",
    "arkhammirror_spark.operators.graph_scoring.composite_entity_scores.config":
        "parity: test_graph_scoring.py passes other configs",
    "arkhammirror_spark.operators.graph_scoring.composite_entity_scores.credibility":
        "parity: test_graph_scoring.py passes none and others",
    "arkhammirror_spark.operators.graph_scoring.composite_entity_scores.mentions":
        "parity: test_graph_scoring.py passes none and others",
    "arkhammirror_spark.operators.graph_scoring.composite_entity_scores.reference_date":
        "parity: test_graph_scoring.py passes another date",
    "arkhammirror_spark.operators.hidden_content.hidden_content_scan.id_col":
        "parity: test_hidden_content.py relies on the default",
    "arkhammirror_spark.operators.hidden_content.hidden_content_scan.with_hashes":
        "parity: test_hidden_content.py relies on the default",
    "arkhammirror_spark.operators.patterns.detect_recurring_patterns.min_confidence":
        "parity: test_differential_correlations.py passes 0.0 and 0.3",
}


def _defaulted_params(node):
    """[(index or None for keyword-only, name, default source)] of a def."""
    import ast

    pos = node.args.posonlyargs + node.args.args
    out = [
        (i, a.arg, ast.unparse(d))
        for i, (a, d) in enumerate(zip(pos[len(pos) - len(node.args.defaults):], node.args.defaults),
                                   start=len(pos) - len(node.args.defaults))
    ]
    out += [
        (None, a.arg, ast.unparse(d))
        for a, d in zip(node.args.kwonlyargs, node.args.kw_defaults)
        if d is not None
    ]
    return out


def _call_name(call) -> str | None:
    return getattr(call.func, "id", None) or getattr(call.func, "attr", None)


def _called_names(path) -> set[str]:
    """Names of the functions and methods `path` calls."""
    import ast

    return {_call_name(c) for c in ast.walk(ast.parse(path.read_text())) if isinstance(c, ast.Call)}


def _option_sources(defs, files) -> dict[str, set]:
    """{'<qualified def>.<param>': value sources} for the defaulted
    parameters `files`' calls pass: the source text of the value, the
    default's for a call that omits it, None (unknown) for one a */**
    argument may fill. A call reaches every def of its name. The calls a
    test reference (`_TEST_ONLY_OK`) makes are test code and count for
    nothing."""
    import ast

    repo = Path(__file__).resolve().parent.parent
    by_name: dict[str, list] = {}
    for q, node in defs.items():
        if not isinstance(node, ast.ClassDef):
            by_name.setdefault(node.name, []).append((q, _defaulted_params(node)))
    sources: dict[str, set] = {}
    for path in files:
        mod = ".".join(path.relative_to(repo).with_suffix("").parts)
        program = [
            top for top in ast.parse(path.read_text()).body
            if f"{mod}.{getattr(top, 'name', '')}" not in _TEST_ONLY_OK
        ]
        for call in (node for top in program for node in ast.walk(top)):
            if not isinstance(call, ast.Call):
                continue
            starred = next((i for i, a in enumerate(call.args) if isinstance(a, ast.Starred)), None)
            keywords = {k.arg: ast.unparse(k.value) for k in call.keywords}
            for q, params in by_name.get(_call_name(call), ()):
                for i, p, default in params:
                    if p in keywords:
                        value = keywords[p]
                    elif None in keywords or (i is not None and starred is not None and i >= starred):
                        value = None
                    elif i is not None and i < len(call.args):
                        value = ast.unparse(call.args[i])
                    else:
                        value = default
                    sources.setdefault(f"{q}.{p}", set()).add(value)
    return sources


def _gated_suites() -> dict[str, Path]:
    """{file name: path} of the test modules that skip as a whole where the
    reference tree is absent: a module-level `pytestmark = skipif(...)` in a
    module that names the reference packages path."""
    import ast

    out = {}
    for path in sorted(Path(__file__).resolve().parent.glob("test_*.py")):
        tree = ast.parse(path.read_text())
        marked = any(
            isinstance(n, ast.Assign) and "pytestmark" in map(ast.unparse, n.targets)
            and "skipif" in ast.unparse(n.value)
            for n in tree.body
        )
        if marked and any(
            isinstance(n, ast.Constant) and "reference/packages" in str(n.value) for n in ast.walk(tree)
        ):
            out[path.name] = path
    return out


def test_no_unset_options():
    """Every defaulted parameter of a reachable top-level function under
    arkhammirror_spark/ (bar reference_impl/, the registered parts and the
    test references) has two values in use among the calls in the package,
    bench.py, bench_extra.py, __spark_entry__.py, scripts/ and perfbench/:
    some call relies on its default and some call passes another value —
    or it is on the allow-list with its reason. A `parity:` reason names a
    suite that skips without the reference tree and calls the function."""
    import ast

    roots, defs = _top_level_defs()
    reached = _reached_names(roots, defs)
    defaults = {
        f"{q}.{p}": default
        for q, node in defs.items()
        if q.startswith("arkhammirror_spark.")
        and isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name in reached
        and q not in _TEST_ONLY_OK
        and not _registered(node)
        for _, p, default in _defaulted_params(node)
    }
    sources = _option_sources(defs, _program_files())
    in_use = {
        o for o, d in defaults.items()
        if None in sources.get(o, ()) or (d in sources.get(o, ()) and len(sources[o]) > 1)
    }
    flagged = sorted(set(defaults) - in_use - set(_OPTION_OK))
    assert not flagged, f"{len(flagged)} options without two values in use: {flagged}"
    gated = _gated_suites()

    def ungated(option: str, reason: str) -> bool:
        suite = reason.removeprefix("parity: ").split()[0]
        return reason.startswith("parity: ") and (
            suite not in gated or option.split(".")[-2] not in _called_names(gated[suite])
        )

    stale = sorted(
        o for o, reason in _OPTION_OK.items()
        if o not in defaults or o in in_use or ungated(o, reason)
    )
    assert not stale, f"allow-listed options that are in use, gone or not parity-gated: {stale}"
