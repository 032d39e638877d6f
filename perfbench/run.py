"""The repository benchmark: drives the program through its public functions
on seeded inputs and prints one JSON result line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads (perfbench/README.md says why each exists and what it predicts):
  ingest           one timed unit = run_pipeline into an empty catalog (cold,
                   extract at full volume), then run_pipeline offered the same
                   pages plus 10% new ones (resume anti-join, entities/edges
                   recomputed over all committed mentions)
  analyst_queries  one timed unit = one pass over a fixed mix of query parts,
                   in a seed-permuted order, by one closed-loop client

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones.
`--smoke` shrinks every input to a few dozen rows for a quick check.
Everything the run writes stays under perfbench/.work/.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

CORES = 4
PARTITIONS = 2 * CORES
HEAP = "2g"
FULL = {"pages": 1000, "docs": 500, "lines": 60000}
SMOKE = {"pages": 60, "docs": 60, "lines": 2000}

# The analyst mix, by the lane that bounds each part.
NER_PARTS = ["entities", "comention_edges", "linked_mentions"]  # Python mock-NER
MIX = NER_PARTS + [
    "graph_components", "graph_pagerank",  # job- and driver-lane heavy
    "bm25_search", "gopher_repetition", "interval_conflicts",  # native scan/shuffle
    "pricing_summary", "exact_dedup", "regex_search_email",  # one job each
]
SPAN_TABLES = ["mentions", "dates", "rels", "chunks", "claims"]

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "peak_pss_mb": "MB",
    "identical_share": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "shipping.ensure_shipped_s": "s",
    "pipeline.cold_wall_s": "s",
    "pipeline.resume_wall_s": "s",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.tasks": "count",
    "pipeline.partition_skew": "ratio",
    "pipeline.resume_skipped_share": "ratio",
    "extract.wall_s": "s",
    "extract.python_s": "s",
    "extract.task_s": "s",
    "extract.python_share": "ratio",
    "extract.docs": "count",
    "extract.error_docs": "count",
    **{f"spans.{t}.{m}": u for t in SPAN_TABLES for m, u in (("write_s", "s"), ("rows", "count"))},
    "entities.write_s": "s",
    "entities.rows": "count",
    "edges.write_s": "s",
    "edges.rows": "count",
    "edges.shuffle_bytes": "bytes",
    "catalog.write_snapshot_s": "s",
    "catalog.jobs_per_write": "count",
    "catalog.bytes_written": "bytes",
    "catalog.write_amplification": "ratio",
    "catalog.commit_run_s": "s",
    "catalog.read_table_s": "s",
    **{f"queries.{p}.{m}": u for p in MIX for m, u in (("wall_s", "s"), ("jobs", "count"))},
    "queries.jobs_total": "count",
    "queries.s_per_job": "s",
    "queries.python_parts_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Run:
    """State of one benchmark run: the session, the timed units and the
    counters that become the result line."""

    def __init__(self, args, run_dir: str, t0: float):
        self.args = args
        self.size = SMOKE if args.smoke else FULL
        self.dir = run_dir
        self.trace = bool(args.trace)
        self.t0 = t0
        self.setup_s = 0.0
        self.check_s = 0.0  # output checks, kept out of setup_s
        self.attempted = 0
        self.failed = 0
        self.checked = 0
        self.identical = 0
        self.walls: list[float] = []  # untraced unit walls
        self.steps: list[list[float]] = []  # their per-step walls
        self.traced_walls: list[float] = []
        self.layers: list[dict] = []  # figures gathered per traced unit
        self.layer = {k: 0 for k in PER_LAYER}
        self.spark = None
        self.tracer = None
        self.mem = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start_session(self) -> None:
        from arkhammirror_spark.session import get_spark
        from arkhammirror_spark.shipping import ensure_shipped

        # a fixed heap (-Xms = -Xmx), touched at JVM start: G1 otherwise
        # grows, touches and shrinks it with GC timing, which moved peak
        # memory by 15% between identical runs
        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
            ),
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
        }
        if self.trace:
            os.makedirs(self.path("eventlog"))
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        else:
            from perfbench.host import PeakPss

            self.mem = PeakPss().start()
        t = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{CORES}]", shuffle_partitions=PARTITIONS, extra=extra
        )
        self.layer["session.start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        ensure_shipped(self.spark)
        self.layer["shipping.ensure_shipped_s"] = time.perf_counter() - t
        if self.trace:
            from perfbench.tracing import Tracer

            self.tracer = Tracer(self.spark.sparkContext)

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - self.t0 - self.check_s
        log(
            f"setup {self.setup_s:.3f}s, of which session start "
            f"{self.layer['session.start_s']:.3f}s and shipping "
            f"{self.layer['shipping.ensure_shipped_s']:.3f}s"
        )

    def op(self, fn, *args):
        """One attempted operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None

    def check(self, fn, *args):
        """Run an output check outside every timed span."""
        t = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.check_s += time.perf_counter() - t

    def loop(self, unit) -> None:
        """Run timed units until their walls add up to --seconds, so the
        output checks between units do not change how many run.
        `unit(k, traced)` returns the walls of its timed steps. Traced runs
        alternate untraced and traced units, at least untraced, traced,
        untraced: the JVM is still warming, and the traced unit's overhead is
        taken against the untraced units on both sides of it."""
        spent = 0.0
        k = 0
        while True:
            traced = self.trace and k % 2 == 1
            if traced:
                self.tracer.unit = f"u{k}"
                self.tracer.install()
            try:
                steps = unit(k, traced)
            finally:
                if traced:
                    self.tracer.uninstall()
                    self.tracer.unit = "post"
            if traced:
                self.traced_walls.append(sum(steps))
            else:
                self.walls.append(sum(steps))
                self.steps.append(steps)
            k += 1
            spent += sum(steps)
            if spent >= self.args.seconds and (not self.trace or k >= 3):
                break

    def finish(self) -> dict:
        log(
            f"unit walls {[[round(s, 3) for s in p] for p in self.steps]}, traced "
            f"{[round(w, 3) for w in self.traced_walls]}; setup {self.setup_s:.3f}s"
        )
        peak = self.mem.stop() if self.mem else 0.0
        jvm = self.spark.sparkContext._gateway.proc
        self.spark.stop()
        # the gateway JVM exits when its stdin closes; wait for it and for
        # the Python workers it forked, so no process outlives the run
        jvm.stdin.close()
        jvm.wait(timeout=60)
        from perfbench.host import descendants

        deadline = time.monotonic() + 30
        while descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)
        correct = self.failed == 0 and self.checked > 0 and self.identical == self.checked
        if self.trace:
            self.fold_trace()
            metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in self.layer.items()}
        else:
            values = {
                "setup_s": self.setup_s,
                "wall_s": statistics.median(self.walls),
                "peak_pss_mb": peak,
                "identical_share": self.identical / self.checked if self.checked else 0.0,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        return {
            "correct": correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def fold_trace(self) -> None:
        """Join each traced unit's spans with the event log, report the
        median over traced units, and write the spans out."""
        from perfbench.tracing import JobIndex, read_event_log

        idx = JobIndex(*read_event_log(self.path("eventlog")))
        per_unit = []
        for extra in self.layers:
            unit = extra.pop("_unit")
            spans = [s for s in self.tracer.spans if s["unit"] == unit]
            tot = idx.totals(idx.select(unit))
            vals = {
                **extra,
                "spark.shuffle_write_bytes": tot["shuffle_write"],
                "spark.spill_bytes": tot["spill"],
                "spark.gc_s": tot["gc_s"],
            }
            if self.args.workload == "ingest":
                fold_ingest(vals, spans, idx, tot)
            else:
                fold_queries(vals, spans, idx)
            per_unit.append(vals)
        for key in PER_LAYER:
            got = [v[key] for v in per_unit if key in v]  # empty if units failed
            if got:
                self.layer[key] = statistics.median(got)
        if self.args.workload == "ingest":
            self.layer["pipeline.cold_wall_s"] = statistics.median(p[0] for p in self.steps)
            self.layer["pipeline.resume_wall_s"] = statistics.median(p[1] for p in self.steps)
        self.layer["trace.overhead_s"] = statistics.median(
            self.traced_walls
        ) - statistics.median(self.walls)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        name = f"{self.args.workload}-s{self.args.seed}-{os.getpid()}.json"
        with open(os.path.join(WORK, "traces", name), "w") as fh:
            json.dump({"spans": self.tracer.spans, "units": per_unit}, fh, default=str)


def _wall(s: dict) -> float:
    return s["end"] - s["start"]


def fold_ingest(vals: dict, spans: list, idx, tot: dict) -> None:
    """Per-layer figures of one traced ingest unit: sums over its cold and
    resume runs, except entity/edge rows, which are the final recompute."""
    vals["pipeline.jobs"] = tot["jobs"]
    vals["pipeline.stages"] = tot["stages"]
    vals["pipeline.tasks"] = tot["tasks"]
    writes = [s for s in spans if s["name"] == "write_snapshot"]
    wtot = [idx.totals(idx.select(s["group"])) for s in writes]
    by_table: dict[str, list] = {}
    for s, t in zip(writes, wtot):
        by_table.setdefault(s["table"], []).append((s, t))

    def wall(table):
        return sum(_wall(s) for s, _ in by_table[table])

    vals["extract.wall_s"] = wall("docs")
    vals["extract.task_s"] = sum(t["run_s"] for _, t in by_table["docs"])
    vals["extract.python_share"] = vals["extract.python_s"] / vals["extract.task_s"]
    for t in SPAN_TABLES:
        vals[f"spans.{t}.write_s"] = wall(t)
        vals[f"spans.{t}.rows"] = sum(s["rows"] for s, _ in by_table[t])
    for t in ("entities", "edges"):
        vals[f"{t}.write_s"] = wall(t)
        vals[f"{t}.rows"] = by_table[t][-1][0]["rows"]
    vals["edges.shuffle_bytes"] = sum(t["shuffle_write"] for _, t in by_table["edges"])
    vals["catalog.write_snapshot_s"] = sum(_wall(s) for s in writes)
    vals["catalog.jobs_per_write"] = statistics.mean(t["jobs"] for t in wtot)
    written = sum(t["out_bytes"] for t in wtot)
    vals["catalog.bytes_written"] = written
    vals["catalog.write_amplification"] = written / vals.pop("_input_bytes")
    vals["catalog.commit_run_s"] = sum(_wall(s) for s in spans if s["name"] == "commit_run")
    vals["catalog.read_table_s"] = sum(_wall(s) for s in spans if s["name"].startswith("read_"))


def fold_queries(vals: dict, spans: list, idx) -> None:
    total_s, jobs_total = 0.0, 0
    for s in spans:
        part = s["name"].split(":", 1)[1]
        jobs = idx.totals(idx.select(s["group"]))["jobs"]
        vals[f"queries.{part}.wall_s"] = _wall(s)
        vals[f"queries.{part}.jobs"] = jobs
        total_s += _wall(s)
        jobs_total += jobs
    vals["queries.jobs_total"] = jobs_total
    vals["queries.s_per_job"] = total_s / jobs_total
    vals["queries.python_parts_s"] = sum(vals[f"queries.{p}.wall_s"] for p in NER_PARTS)


# -- workloads -------------------------------------------------------------


def _audit(res) -> tuple[list, int, int]:
    """(per-partition Python ms, docs, error docs) from a run's audit table."""
    rows = res.audit.collect()
    return (
        [r["wall_ms"] for r in rows],
        sum(r["input_rows"] for r in rows),
        sum(r["error_rows"] for r in rows),
    )


def ingest(run: Run) -> None:
    from arkhammirror_spark.pipeline import run_pipeline

    from perfbench.checks import check_ingest, reference_docs
    from perfbench.inputs import write_pages

    seed, n, spark = run.args.seed, run.size["pages"], run.spark
    new = n // 10
    base, top, warm, warm_top = (
        run.path(d, "pages.parquet") for d in ("pages", "pages-new", "warm", "warm-new")
    )
    base_bytes = write_pages(base, n, seed)
    top_bytes = write_pages(top, new, seed, start=n)
    write_pages(warm, n, seed, start=n + new)
    write_pages(warm_top, new, seed, start=2 * n + new)
    base_df = spark.read.parquet(base)
    all_df = spark.read.parquet(base, top)

    def pipeline(out_dir, pages):
        return run_pipeline(spark, pages, out_dir=out_dir, num_partitions=PARTITIONS)

    # untimed warm-up unit at full size (JIT, codegen, Python workers and
    # the plans AQE picks at this size), cold then resume, over pages the
    # timed units never see
    warm_out = run.path("warm", "out")
    pipeline(warm_out, spark.read.parquet(warm))
    pipeline(warm_out, spark.read.parquet(warm, warm_top))
    shutil.rmtree(run.path("warm"))
    shutil.rmtree(run.path("warm-new"))
    run.end_setup()

    cache = os.path.join(WORK, "cache")
    ref_base: dict = {}
    ref_all: dict = {}

    def verify(out: str, ref: dict) -> bool:
        if not ref_all:
            ref_base.update(reference_docs(base, seed, 0, n, cache))
            ref_all.update(ref_base)
            ref_all.update(reference_docs(top, seed, n, new, cache))
        got = check_ingest(out, ref)
        run.checked += got["checked"]
        run.identical += got["identical"]
        for p in got["problems"]:
            log(f"check failed: {p}")
        return not got["problems"]

    def step(out, pages, ref, traced):
        t = time.perf_counter()
        if traced:
            with run.tracer.span("run_pipeline"):
                res = pipeline(out, pages)
        else:
            res = pipeline(out, pages)
        wall = time.perf_counter() - t
        audit = run.check(_audit, res) if traced else None
        if not run.check(verify, out, ref):
            run.failed += 1
        return wall, audit

    def unit(k, traced):
        out = run.path(f"out-{k}")
        cold = run.op(step, out, base_df, ref_base, traced)
        resume = run.op(step, out, all_df, ref_all, traced) if cold else None
        shutil.rmtree(out, ignore_errors=True)
        if not (cold and resume):  # counted as failed; the result is not correct
            return [cold[0] if cold else 0.0, 0.0]
        if traced:
            (ms_c, docs_c, err_c), (ms_r, docs_r, err_r) = cold[1], resume[1]
            med = statistics.median(ms_c)
            run.layers.append({
                "_unit": run.tracer.unit,
                # pages parquet offered: base to the cold run, base + new to the resume
                "_input_bytes": 2 * base_bytes + top_bytes,
                "extract.python_s": (sum(ms_c) + sum(ms_r)) / 1000.0,
                "extract.docs": docs_c + docs_r,
                "extract.error_docs": err_c + err_r,
                "pipeline.partition_skew": max(ms_c) / med,
                "pipeline.resume_skipped_share": (n + new - docs_r) / (n + new),
            })
        return [cold[0], resume[0]]

    run.loop(unit)


def analyst_queries(run: Run) -> None:
    import duckdb

    from arkhammirror_spark.queries import ORACLE_SQL, QUERIES

    from perfbench.checks import check_part
    from perfbench.inputs import write_analyst_tables

    sf = run.path("sf")
    write_analyst_tables(sf, run.args.seed, run.size["docs"], run.size["lines"])
    con = duckdb.connect()
    for t in ("documents", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    rng = random.Random(run.args.seed)

    # untimed warm-up pass, which is also the output check: every part is
    # collected and compared with its DuckDB oracle
    def verify(part):
        df = QUERIES[part](run.spark, sf)
        rows = [tuple(r) for r in df.collect()]
        diff = run.check(check_part, df.columns, rows, con.sql(ORACLE_SQL[part]))
        if diff:
            raise RuntimeError(f"check failed: {part}: {diff}")
        return True

    for part in rng.sample(MIX, len(MIX)):
        run.checked += 1
        run.identical += bool(run.op(verify, part))
    con.close()
    run.end_setup()

    def noop(part):
        QUERIES[part](run.spark, sf).write.format("noop").mode("overwrite").save()

    def unit(k, traced):
        t = time.perf_counter()
        for part in rng.sample(MIX, len(MIX)):
            if traced:
                with run.tracer.span(f"query:{part}"):
                    run.op(noop, part)
            else:
                run.op(noop, part)
        if traced:
            run.layers.append({"_unit": run.tracer.unit})
        return [time.perf_counter() - t]

    run.loop(unit)


WORKLOADS = {"ingest": ingest, "analyst_queries": analyst_queries}


def _confine(run_dir: str) -> None:
    """Keep every temp file of this process and its children in run_dir."""
    import tempfile

    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # the JVM spark-submit runs to build its command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    tempfile.tempdir = None


def main() -> int:
    t0 = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "arkhammirror_spark", "pipeline.py")):
        log(f"the program (arkhammirror_spark/) is not next to {HERE}")
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    _confine(run_dir)

    from perfbench.host import host_state

    before = host_state()
    if before["noisy"]:
        log(f"noisy host, timings suspect: {before['noisy']}")
    run = Run(args, run_dir, t0)
    try:
        run.start_session()
        WORKLOADS[args.workload](run)
        result = run.finish()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    after = host_state()
    stolen = after["steal"][0] - before["steal"][0]
    ticks = after["steal"][1] - before["steal"][1]
    log(
        f"host cores={before['cores']} load {before['load']} -> {after['load']}, "
        f"steal {100 * stolen / max(ticks, 1):.1f}%"
        + (f"; noisy at end: {after['noisy']}" if after["noisy"] else "")
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
