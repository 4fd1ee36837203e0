"""Per-layer tracing for the benchmark, recorded from outside the package.

``Tracer.install()`` wraps public calls into the package's modules
(ingest, state, reconcile, util) in spans; the benchmark's own op code
adds spans around each op, each registry call (``plans.build``) and its
action (``plans.exec``). Every span sets a Spark job group, so each job
belongs to the innermost span that was open when it ran.

After each op, the tracer reads Spark's own counters before retention
caps can evict them: per job and stage from the core status store
(run time, CPU time, GC time, shuffle and input bytes, spills, tasks),
and per plan node from the SQL status store (CSV scans, bytes read,
Python-worker time). Both work with the UI disabled.
"""

from __future__ import annotations

import functools
import json
import os
import re
import statistics
import sys
import time
from contextlib import contextmanager

from land_registry_data_ingestion_spark import operators, util
from land_registry_data_ingestion_spark.operators import ingest, state

MB = 1024 * 1024
_UNITS = {
    "B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_PYTHON_NODE = re.compile(r"Pandas|Arrow|Python")
_VALUE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|ms|s|m|h)\b")


def _sql_metric(text: str | None) -> float:
    """Total of a formatted SQL metric: ``'7.0 s'`` or ``'total (min,
    med, max ...)\\n7.0 s (...)'`` -> seconds or bytes."""
    if not text:
        return 0.0
    m = _VALUE.search(text.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


COUNTERS = (
    "jobs", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb",
    "spill_mb", "scan_s", "csv_scans", "read_mb", "python_s", "cached_mb",
)


class Tracer:
    """Spans around package calls, with the Spark counters of the jobs
    that ran inside each span."""

    def __init__(self, spark, cpus: int):
        self.sc = spark.sparkContext
        self.cpus = cpus
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._stage_args = (
            getattr(self._store, "stageData$default$3")(),
            getattr(self._store, "stageData$default$5")(),
        )
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._saved: list = []
        jvm = self.sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._last_job = max((j["jobId"] for j in self._json(self._store.jobsList(None))), default=-1)
        execs = self._conv.asJava(self._sql.executionsList())
        self._last_exec = execs.get(execs.size() - 1).executionId() if execs.size() else -1
        self._seen_stages: set[int] = set()
        self.passes = 0

    # -- spans -----------------------------------------------------------

    @contextmanager
    def span(self, name: str, module: str):
        rec = {
            "id": len(self.spans), "name": name, "module": module,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.passes, **{c: 0.0 for c in COUNTERS},
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", f"perfbench-{rec['id']}")
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", outer)
            if not self._stack:
                self._collect(rec)

    def _wrap(self, fn, name: str, module: str, after=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, module) as rec:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(rec, args, out)
            return out

        return traced

    def install(self) -> None:
        self.passes += 1
        targets = [
            (ingest, "sha256_of_file", "ingest.sha256", "ingest", None),
            (ingest, "ingest_snapshot", "ingest.snapshot", "ingest", None),
            (ingest, "ingest_monthly_update", "ingest.monthly_update", "ingest", None),
            (state.ManifestStore, "current_for_merge", "state.current_for_merge", "state", None),
            (state.ManifestStore, "write_state", "state.write_state", "state", None),
            (state.ManifestStore, "write_merged", "state.write_merged", "state", _parts_written),
            (operators, "reconcile", "reconcile.reconcile", "reconcile", None),
        ]
        # barrier() is imported by name into the operator modules.
        barrier = util.barrier
        for mod in list(sys.modules.values()):
            if (
                getattr(mod, "__name__", "").startswith("land_registry_data_ingestion_spark")
                and getattr(mod, "barrier", None) is barrier
            ):
                targets.append((mod, "barrier", "util.barrier", "util", None))
        for owner, attr, name, module, after in targets:
            fn = getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name, module, after))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)

    # -- Spark counters --------------------------------------------------

    def _json(self, obj):
        """One status-store object as Python data: a single py4j call
        instead of one per field."""
        return json.loads(self._mapper.writeValueAsString(obj))

    def _collect(self, op: dict) -> None:
        """After ``op`` (a top-level span) ends: attribute every job and
        SQL execution since the last call to the span whose job group it
        carries."""
        job_span: dict[int, dict] = {}
        for job in self._json(self._store.jobsList(None)):  # newest first
            if job["jobId"] <= self._last_job:
                break
            group = job["jobGroup"] or ""
            if group.startswith("perfbench-"):
                rec = job_span[job["jobId"]] = self.spans[int(group.split("-")[1])]
                rec["jobs"] += 1
                for sid in job["stageIds"]:
                    if sid not in self._seen_stages:  # a reused stage counts once
                        self._seen_stages.add(sid)
                        self._add_stage(rec, sid)
        self._last_job = max([self._last_job, *job_span])

        execs = self._conv.asJava(self._sql.executionsList())  # oldest first
        for i in range(execs.size() - 1, -1, -1):
            ex = execs.get(i)
            eid = ex.executionId()
            if eid <= self._last_exec:
                break
            jobs = [j for j in self._conv.asJava(ex.jobs().keySet()) if j in job_span]
            if jobs:
                self._add_sql(job_span[jobs[0]], eid)
        if execs.size():
            self._last_exec = max(self._last_exec, execs.get(execs.size() - 1).executionId())

        # The op's barrier persists, before the workload releases them.
        op["cached_mb"] = sum(
            info.diskSize() + info.memSize() for info in self.sc._jsc.sc().getRDDStorageInfo()
        ) / MB

    def _add_stage(self, rec: dict, sid: int) -> None:
        tasks, quantiles = self._stage_args
        for st in self._json(self._store.stageData(sid, False, tasks, False, quantiles)):
            run_s = st["executorRunTime"] / 1e3
            rec["tasks"] += st["numCompleteTasks"]
            rec["run_s"] += run_s
            rec["cpu_s"] += st["executorCpuTime"] / 1e9
            rec["gc_s"] += st["jvmGcTime"] / 1e3
            rec["shuffle_write_mb"] += st["shuffleWriteBytes"] / MB
            rec["spill_mb"] += (st["diskBytesSpilled"] + st["memoryBytesSpilled"]) / MB
            if st["inputBytes"] > 0:
                rec["scan_s"] += run_s

    def _add_sql(self, rec: dict, eid: int) -> None:
        """File scans and Python-worker time from one SQL execution's
        plan-node metrics."""
        values = None
        for node in self._json(self._sql.planGraph(eid).allNodes()):
            if node["name"].startswith("Scan "):
                rec["csv_scans"] += node["name"].strip() == "Scan csv"
                wanted = "size of files read"
            elif _PYTHON_NODE.search(node["name"]):
                wanted = "time to run Python workers"
            else:
                continue
            if values is None:
                values = self._json(self._sql.executionMetrics(eid))
            for m in node["metrics"]:
                if m["name"] == wanted:
                    v = _sql_metric(values.get(str(m["accumulatorId"])))
                    if wanted.startswith("size"):
                        rec["read_mb"] += v / MB
                    else:
                        rec["python_s"] += v

    # -- per-layer metrics ------------------------------------------------

    def _tree(self, rec: dict) -> list[dict]:
        """``rec`` and every span under it."""
        ids = {rec["id"]}
        out = [rec]
        for s in self.spans[rec["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def _sum(self, spans, counter: str) -> float:
        return sum(s[counter] for s in spans)

    def metrics(self, wl, op_names, traced, untraced, starts, warmup_s, peak_rss_mb) -> dict:
        med = _median
        ops = [s for s in self.spans if s["parent"] is None]
        by_pass = {}
        for s in self.spans:
            by_pass.setdefault(s["pass"], []).append(s)

        def per_pass(fn):
            return med([fn(spans) for spans in by_pass.values()])

        def module_sum(module, counter):
            return per_pass(lambda spans: sum(s[counter] for s in spans if s["module"] == module))

        def named(name):
            return [s for s in self.spans if s["name"] == name]

        def op_tree(op):
            return [self._tree(s) for s in ops if s["name"] == "op." + op]

        def wait(tree):
            return tree[0]["s"] - self._sum(tree, "run_s") / self.cpus

        merges = op_tree("merge")
        written = [s["partitions_written"] for s in named("state.write_merged")]
        touched = wl.expected["batch"]["years_touched"] if wl.name == "ingest_cdc" else 0
        run_s = per_pass(lambda spans: self._sum(spans, "run_s"))
        python_s = per_pass(lambda spans: self._sum(spans, "python_s"))
        m = {
            "session.start_s": (med(starts), "s"),
            "session.warmup_s": (warmup_s, "s"),
            "session.peak_rss_mb": (peak_rss_mb, "MB"),
            "sources.csv_scans": (med([self._sum(t, "csv_scans") for t in merges]), "count"),
            "sources.scan_s": (per_pass(lambda spans: self._sum(spans, "scan_s")), "s"),
            "sources.read_mb": (per_pass(lambda spans: self._sum(spans, "read_mb")), "MB"),
            "ingest.sha256_s": (med([s["s"] for s in named("ingest.sha256")]), "s"),
            "ingest.jobs": (med([self._sum(t, "jobs") for t in merges]), "count"),
            "ingest.wait_s": (med([wait(t) for t in merges]), "s"),
            "state.current_for_merge_s": (med([s["s"] for s in named("state.current_for_merge")]), "s"),
            "state.write_s": (med([s["s"] for s in named("state.write_merged")]), "s"),
            "state.partitions_written": (med(written), "count"),
            "state.write_useful_ratio": (touched / med(written) if written else 0.0, "ratio"),
            "merge.shuffle_mb": (med([self._sum(t, "shuffle_write_mb") for t in merges]), "MB"),
            "reconcile.shuffle_mb": (med([self._sum(t, "shuffle_write_mb") for t in op_tree("verify")]), "MB"),
            "reconcile.spill_mb": (med([self._sum(t, "spill_mb") for t in op_tree("verify")]), "MB"),
            "plans.build_s": (per_pass(lambda spans: sum(s["s"] for s in spans if s["name"] == "plans.build")), "s"),
            "plans.exec_s": (per_pass(lambda spans: sum(s["s"] for s in spans if s["name"] == "plans.exec")), "s"),
            "plans.jobs": (module_sum("plans", "jobs"), "count"),
            "plans.tasks": (module_sum("plans", "tasks"), "count"),
            "plans.wait_s": (per_pass(lambda spans: sum(wait(self._tree(s)) for s in spans if s in ops and s["module"] == "plans")), "s"),
            "util.barriers": (per_pass(lambda spans: sum(1 for s in spans if s["name"] == "util.barrier")), "count"),
            "util.barrier_disk_mb": (per_pass(lambda spans: sum(s["cached_mb"] for s in spans if s["parent"] is None)), "MB"),
            "similarity.python_s": (python_s, "s"),
            "similarity.python_share": (python_s / run_s if run_s else 0.0, "ratio"),
            "trace.overhead_s": (med([p.seconds for p in traced]) - med([p.seconds for p in untraced]), "s"),
        }
        for module in ("ingest", "state", "reconcile", "plans"):
            m[f"{module}.executor_cpu_s"] = (module_sum(module, "cpu_s"), "s")
            m[f"{module}.gc_s"] = (module_sum(module, "gc_s"), "s")
            m[f"{module}.shuffle_write_mb"] = (module_sum(module, "shuffle_write_mb"), "MB")
        for name in op_names:
            times = [o.seconds for p in untraced for o in p.ops if o.name == name]
            m[f"op.{name}_s"] = (med(times), "s")
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _parts_written(rec: dict, args, out) -> None:
    """Partitions a ``write_merged`` call wrote (the rest were carried)."""
    store, location = args[0], args[2]
    parts = store._parts_dir(location)  # write_merged's output layout
    rec["partitions_written"] = sum(1 for d in os.listdir(parts) if d.startswith("data_year="))


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
