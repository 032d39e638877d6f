"""Round-8 measurement harness (bench.py is FROZEN — extra benchmarks live
here per the optimization-round rules).

Usage:
  python bench_extra.py time  <part> [part ...]   # noop-sink wall per part
  python bench_extra.py plan  <part> [part ...]   # explain("formatted") dump
  python bench_extra.py both  <part> [part ...]
  python bench_extra.py entry <entry> [...]       # contract-entry level
  python bench_extra.py shapes                    # rewrite plans/shapes.json
  python bench_extra.py split <part ...|mix|all>  # build / plan / run walls

Parts come from arkhammirror_spark.queries.QUERIES (the fine-grained
registry bench.py itself sums into contract entries); entries come from
the 50-entry driver contract. Timing uses the noop sink (guide §1.4) so
the computation — not the count() shortcut or a real sink — is what is
measured, and each job is labelled (guide §1.5).

Env knobs match bench.py: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS. Plan dumps
go to PLAN_DIR (default: a directory under the system temp dir).

`shapes` records every part's `plan_shape` (node counts per kind), output
schema and Spark job count (building the frame, planning it and running it
to the noop sink) in plans/shapes.json, which tests/test_plan_hygiene.py
asserts: the shape and schema exactly, the jobs as a budget. A part's job
count varies by a job or two from run to run (AQE submits its query stages
concurrently; temporal_snapshots read 48 to 50), so the budget recorded is
the most jobs any of SHAPE_SWEEPS sweeps started. It runs in the
test session's shape (local[4], 8 shuffle partitions) against the test's
own data directory, whatever SPARK_GRAFT_SF_DIR says: the planner's
broadcast choices follow data size.

`split` times three walls per part, in order: building the frame (eager
jobs and py4j round trips on the driver), planning it
(`queryExecution().executedPlan()`) and running it to the noop sink. It
prints one line per part and writes them to SPLIT_JSON (default: a file
under the system temp dir). `mix` names the benchmark's analyst mix.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

SHAPES_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "shapes.json")
SHAPE_SWEEPS = 5


def part_record(spark, registry, name: str, sf_dir: str):
    """Part `name` built at `sf_dir`, planned and run to a noop sink in a
    job group of its own: (the frame, its plan shape with the output schema
    and the Spark jobs the three started)."""
    from arkhammirror_spark.plans import plan_shape

    sc = spark.sparkContext
    group = f"part-jobs-{name}-{time.monotonic_ns()}"
    sc.setJobGroup(group, name)
    try:
        df = registry[name](spark, sf_dir)
        shape = {**plan_shape(df), "schema": df.schema.simpleString()}
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    shape["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
    return df, shape


def write_shapes() -> None:
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests"))
    from test_plan_hygiene import SF as sf_dir

    from arkhammirror_spark.queries import QUERIES
    from arkhammirror_spark.session import get_spark

    spark = get_spark("arkhammirror-plan-shapes", master="local[4]", shuffle_partitions=8)
    shapes: dict[str, dict] = {}
    for _sweep in range(SHAPE_SWEEPS):
        for name in sorted(QUERIES):
            _df, shape = part_record(spark, QUERIES, name, sf_dir)
            jobs = shape.pop("jobs")
            seen = shapes.setdefault(name, {**shape, "jobs": jobs})
            assert {k: v for k, v in seen.items() if k != "jobs"} == shape, (
                f"{name}: plan shape differs between sweeps"
            )
            seen["jobs"] = max(seen["jobs"], jobs)
    spark.stop()
    rows = [f"  {json.dumps(name)}: {json.dumps(shape)}" for name, shape in shapes.items()]
    with open(SHAPES_PATH, "w") as f:
        f.write("{\n" + ",\n".join(rows) + "\n}\n")
    print(f"# {len(rows)} plan shapes written: {SHAPES_PATH}", flush=True)


def split_walls(spark, registry, names, sf_dir: str, out_path: str) -> None:
    rows = []
    for name in names:
        t0 = time.perf_counter()
        df = registry[name](spark, sf_dir)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        row = {"part": name, "build_s": t1 - t0, "plan_s": t2 - t1, "run_s": t3 - t2}
        rows.append(row)
        print(
            f"{name}\tbuild={row['build_s']:.3f}s\tplan={row['plan_s']:.3f}s"
            f"\trun={row['run_s']:.3f}s",
            flush=True,
        )
    totals = {k: sum(r[k] for r in rows) for k in ("build_s", "plan_s", "run_s")}
    print("total\t" + "\t".join(f"{k[:-2]}={v:.3f}s" for k, v in totals.items()), flush=True)
    with open(out_path, "w") as f:
        json.dump({"sf_dir": sf_dir, "parts": rows, "total": totals}, f, indent=1)
    print(f"# split walls written: {out_path}", flush=True)


def main() -> None:
    mode = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    plan_dir = os.environ.get(
        "PLAN_DIR", os.path.join(tempfile.gettempdir(), "arkhammirror-plans")
    )
    plan_tag = os.environ.get("PLAN_TAG", "before")
    repeat = int(os.environ.get("REPEAT", "1"))
    if mode == "shapes":
        write_shapes()
        return

    from arkhammirror_spark.session import get_spark

    spark = get_spark(
        "arkhammirror-bench-extra", master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )

    if mode == "entry":
        from arkhammirror_spark.contract import build_contract

        registry, _ = build_contract()
    else:
        from arkhammirror_spark.queries import QUERIES as registry

    if names == ["all"]:
        names = list(registry.keys())
    elif names == ["mix"]:
        from perfbench.run import MIX as names

    if mode == "split":
        out = os.environ.get(
            "SPLIT_JSON", os.path.join(tempfile.gettempdir(), "arkhammirror-split.json")
        )
        split_walls(spark, registry, names, sf_dir, out)
        spark.stop()
        return

    import gc

    for name in names:
        fn = registry[name]
        for r in range(repeat):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            build_s = time.perf_counter() - t0
            if mode in ("plan", "both") and r == 0:
                os.makedirs(plan_dir, exist_ok=True)
                txt = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                with open(
                    os.path.join(plan_dir, f"{name}_{plan_tag}.txt"), "w"
                ) as f:
                    f.write(txt)
                print(f"# plan written: {name}_{plan_tag}.txt", flush=True)
            if mode in ("time", "both", "entry"):
                spark.sparkContext.setJobDescription(f"{name} [noop]")
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                wall = time.perf_counter() - t0
                spark.sparkContext.setJobDescription(None)
                print(
                    f"{name}\trun{r}\tbuild={build_s:.3f}s\tnoop={wall:.3f}s",
                    flush=True,
                )
            del df
            gc.collect()
    spark.stop()


if __name__ == "__main__":
    main()
