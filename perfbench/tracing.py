"""Traced runs: spans around the public calls of each layer, plus the Spark
event log that says what the jobs under each span did.

A span times one call and sets a Spark job group in the calling thread for
its duration, so jobs submitted by concurrent span writes (run_pipeline
writes the span tables from a thread pool) stay apart. Group ids nest as
`<unit>/<span id>:<name>`, so every job of a unit shares its prefix. Spans
are kept in memory and written out when the run ends.

The event log (enabled only in traced runs) is read after the session
stops; it has the job -> group mapping, the stages each job ran, and the
per-stage task metrics (executor run time, GC, shuffle, spill, output bytes).
"""

from __future__ import annotations

import glob
import itertools
import json
import threading
import time
from contextlib import contextmanager

from arkhammirror_spark.catalog import ParquetSnapshotCatalog

_GROUP = "spark.jobGroup.id"
_CATALOG_CALLS = (
    "write_snapshot", "commit_run", "read_table", "read_table_latest", "read_snapshot",
)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.unit = "setup"
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._saved: dict = {}

    @contextmanager
    def span(self, name: str, **attrs):
        """Time a block and route the jobs it submits to its own group."""
        parent = self.sc.getLocalProperty(_GROUP)
        group = f"{self.unit}/{next(self._ids)}:{name}"
        self.sc.setLocalProperty(_GROUP, group)
        rec = {"name": name, "unit": self.unit, "group": group, "parent": parent, **attrs}
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.sc.setLocalProperty(_GROUP, parent)
            with self._lock:
                self.spans.append(rec)

    def install(self) -> None:
        """Wrap the catalog's public calls; run_pipeline and the query parts
        are wrapped where the benchmark calls them."""
        for meth in _CATALOG_CALLS:
            orig = getattr(ParquetSnapshotCatalog, meth)
            self._saved[meth] = orig

            def wrapped(cat, *args, _orig=orig, _meth=meth, **kw):
                table = args[1] if _meth != "commit_run" else None
                with self.span(_meth, table=table) as rec:
                    out = _orig(cat, *args, **kw)
                    if isinstance(out, dict) and "rows" in out:
                        rec["rows"] = out["rows"]
                    return out

            setattr(ParquetSnapshotCatalog, meth, wrapped)

    def uninstall(self) -> None:
        for meth, orig in self._saved.items():
            setattr(ParquetSnapshotCatalog, meth, orig)
        self._saved.clear()


def _acc(stage_info: dict) -> dict:
    out = {}
    for a in stage_info.get("Accumulables", []):
        name = a.get("Name", "")
        if name.startswith("internal.metrics."):
            try:
                out[name[len("internal.metrics."):]] = int(a["Value"])
            except (KeyError, TypeError, ValueError):
                pass
    return out


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """(jobs, stages) from the event log of the (stopped) session:
    jobs = {job id: {"group", "stages"}}, stages = {stage id: {"tasks",
    "run_ms", "gc_ms", "shuffle_write", "spill", "out_bytes"}} for stages
    that ran (skipped stages never complete)."""
    jobs: dict = {}
    stages: dict = {}
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "group": (ev.get("Properties") or {}).get(_GROUP),
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    m = _acc(info)
                    stages[info["Stage ID"]] = {
                        "tasks": info.get("Number of Tasks", 0),
                        "run_ms": m.get("executorRunTime", 0),
                        "gc_ms": m.get("jvmGCTime", 0),
                        "shuffle_write": m.get("shuffle.write.bytesWritten", 0),
                        "spill": m.get("diskBytesSpilled", 0),
                        "out_bytes": m.get("output.bytesWritten", 0),
                    }
    return jobs, stages


class JobIndex:
    """Jobs and stages grouped by span group id; each stage counts once,
    for the first job that ran it."""

    def __init__(self, jobs: dict, stages: dict):
        self.by_group: dict[str, list] = {}
        owned = set()
        for jid in sorted(jobs):
            j = jobs[jid]
            mine = [s for s in j["stages"] if s in stages and s not in owned]
            owned.update(mine)
            self.by_group.setdefault(j["group"] or "", []).append(
                [stages[s] for s in mine]
            )

    def select(self, prefix: str) -> list:
        """Per-job stage lists for a group and the groups nested under it."""
        return [
            job
            for g, js in self.by_group.items()
            if g == prefix or g.startswith(prefix + "/")
            for job in js
        ]

    @staticmethod
    def totals(job_list: list) -> dict:
        st = [s for job in job_list for s in job]
        return {
            "jobs": len(job_list),
            "stages": len(st),
            "tasks": sum(s["tasks"] for s in st),
            "run_s": sum(s["run_ms"] for s in st) / 1000.0,
            "gc_s": sum(s["gc_ms"] for s in st) / 1000.0,
            "shuffle_write": sum(s["shuffle_write"] for s in st),
            "spill": sum(s["spill"] for s in st),
            "out_bytes": sum(s["out_bytes"] for s in st),
        }
