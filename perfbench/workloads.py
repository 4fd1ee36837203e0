"""The benchmark's workloads: seeded inputs, one pass of ops, and checks.

A *pass* is a fixed sequence of ops run through the package's public
API by one client: each op starts after the previous one finished.
Every op returns an :class:`OpResult`; an op that raises or returns a
wrong result counts as failed.
"""

from __future__ import annotations

import importlib.util
import json
import os
import pickle
import shutil
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F

# Package calls go through their modules, so the tracer's wrappers apply.
from land_registry_data_ingestion_spark import operators
from land_registry_data_ingestion_spark.operators import ingest
from land_registry_data_ingestion_spark.operators.pipeline import make_store
from land_registry_data_ingestion_spark.plans.registry import REGISTRY, _load_all
from land_registry_data_ingestion_spark.schema import PRICE_PAID_VALUE_COLUMNS
from land_registry_data_ingestion_spark.sources.csv import read_price_paid_csv
from land_registry_data_ingestion_spark.util import release_caches

import inputs

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _oracle_harness():
    """The oracle tests' comparison rules (column names, row count, exact
    cell values after each query's own rounding)."""
    path = os.path.join(REPO_ROOT, "tests", "oracle_harness.py")
    spec = importlib.util.spec_from_file_location("oracle_harness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@dataclass
class OpResult:
    name: str
    seconds: float
    ok: bool
    detail: str = ""
    check_s: float = 0.0  # time spent checking the result (not the op's)


@dataclass
class PassResult:
    seconds: float
    ops: list[OpResult] = field(default_factory=list)


def _timed(name: str, fn, check) -> OpResult:
    """Run ``fn()`` and ``check(result) -> problem | ""`` (untimed)."""
    t0 = time.perf_counter()
    try:
        out = fn()
    except Exception:  # an op that raises is a failed op, not a crash
        return OpResult(name, time.perf_counter() - t0, False, traceback.format_exc())
    dt = time.perf_counter() - t0
    problem = check(out)
    return OpResult(name, dt, not problem, problem, time.perf_counter() - t0 - dt)


# -- vector_search ----------------------------------------------------------------


class VectorSearch:
    """A pass runs each similarity query of the registry once on seeded
    embeddings. Outputs are checked against each query's DuckDB oracle
    SQL on the warm-up pass, and by row count on every timed pass."""

    name = "vector_search"
    size = 4_000
    ops = [
        "sim_topk_bruteforce",
        "sim_ivf_topk",
        "sim_pq_topk",
        "dedup_semantic",
    ]

    def __init__(self, seed: int, cache_root: str, work_dir: str):
        self.seed = seed
        self.cache_root = cache_root
        self.expected: dict = {}
        _load_all()

    def prepare(self) -> tuple[str, bool]:
        key = f"{self.name}-s{self.seed}-n{self.size}-v{inputs.GEN_VERSION}"
        self.data_dir, hit = inputs.cached(
            self.cache_root, key, lambda d: inputs.embeddings(d, self.seed, self.size)
        )
        self.table = os.path.join(self.data_dir, "embeddings.parquet")
        return self.data_dir, hit

    def sizes(self) -> dict:
        import pyarrow.parquet as pq

        files = [os.path.join(self.table, f) for f in sorted(os.listdir(self.table))]
        return {
            "embeddings": {
                "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
                "bytes": sum(os.path.getsize(f) for f in files),
            }
        }

    def compute_expected(self) -> None:
        """Oracle results for every op, computed once per seed and kept
        in the cache entry next to the inputs."""
        path = os.path.join(self.data_dir, "expected.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:  # written by this method, below
                self.expected = pickle.load(f)
            return
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads = 2")
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{self.table}/*.parquet'")
        self.expected = {op: con.execute(REGISTRY[op].sql).fetchdf() for op in self.ops}
        con.close()
        with open(path, "wb") as f:
            pickle.dump(self.expected, f)
        inputs.seal(self.data_dir)

    def run_pass(self, spark, check: bool, tracer=None) -> PassResult:
        harness = _oracle_harness() if check else None
        t0 = time.perf_counter()
        res = PassResult(0.0)
        for op in self.ops:
            res.ops.append(self._run_op(spark, op, harness, tracer))
            release_caches()
        res.seconds = time.perf_counter() - t0 - sum(o.check_s for o in res.ops)
        return res

    def _run_op(self, spark, op: str, harness, tracer) -> OpResult:
        want = self.expected[op]
        span = tracer.span if tracer else _no_span
        obs = Observation()

        def run():
            with span("op." + op, "plans"):
                with span("plans.build", "plans"):
                    df = REGISTRY[op].fn(spark, self.data_dir)
                with span("plans.exec", "plans"):
                    if harness is not None:  # warm-up pass: collect the rows
                        return df.toPandas()
                    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                        "noop"
                    ).mode("overwrite").save()

        def check(pdf):
            if harness is not None:
                return "; ".join(harness.compare_results(pdf, want, op))
            return _want(obs.get["n"], len(want), f"{op} rows")

        return _timed(op, run, check)


def _no_span(name: str, module: str):
    return nullcontext()


# -- ingest_cdc -------------------------------------------------------------------


class IngestCdc:
    """The paper's cycle on a fresh ManifestStore per pass: snapshot load,
    a monthly A/C/D merge, a byte-identical re-stage that must be
    garbage-collected, and a reconcile of current state against the
    snapshot file. Checked against the generator's arithmetic."""

    name = "ingest_cdc"
    ops = ["snapshot", "merge", "restage", "verify"]
    size = 50_000
    batch_rows = 4_000

    def __init__(self, seed: int, cache_root: str, work_dir: str):
        self.seed = seed
        self.cache_root = cache_root
        self.work_dir = work_dir
        self.passes = 0

    def prepare(self) -> tuple[str, bool]:
        key = f"{self.name}-s{self.seed}-n{self.size}-v{inputs.GEN_VERSION}"
        self.data_dir, hit = inputs.cached(
            self.cache_root, key,
            lambda d: inputs.price_paid(d, self.seed, self.size, self.batch_rows),
        )
        with open(os.path.join(self.data_dir, "expected.json")) as f:
            self.expected = json.load(f)
        return self.data_dir, hit

    def sizes(self) -> dict:
        out = {}
        for name in ("snapshot.csv", "batch.csv"):
            p = os.path.join(self.data_dir, name)
            with open(p, "rb") as f:
                out[name] = {"rows": sum(1 for _ in f), "bytes": os.path.getsize(p)}
        return out

    def compute_expected(self) -> None:
        pass  # the generator recorded its own arithmetic

    def run_pass(self, spark, check: bool, tracer=None) -> PassResult:
        self.passes += 1
        tag = f"p{self.passes}"
        root = os.path.join(self.work_dir, f"store-{self.passes}")
        # Staging (the downloader's job) happens before the pass starts.
        restaged = os.path.join(root, "staged", "batch.csv")
        os.makedirs(os.path.dirname(restaged))
        batch = os.path.join(self.data_dir, "batch.csv")
        shutil.copyfile(batch, restaged)
        snapshot = os.path.join(self.data_dir, "snapshot.csv")
        exp = self.expected
        span = tracer.span if tracer else _no_span
        cols = ["transaction_unique_id"] + PRICE_PAID_VALUE_COLUMNS
        store = None

        def snap():
            nonlocal store
            with span("op.snapshot", "ingest"):
                store = make_store(spark, os.path.join(root, "store"))
                return ingest.ingest_snapshot(store, snapshot, f"{tag}-snapshot")

        def merge():
            with span("op.merge", "ingest"):
                return ingest.ingest_monthly_update(store, batch, f"{tag}-batch")

        def restage():
            with span("op.restage", "ingest"):
                return ingest.ingest_monthly_update(store, restaged, f"{tag}-restaged")

        def verify():
            with span("op.verify", "reconcile"):
                live = store.current_state().filter(~F.col("is_deleted"))
                src = read_price_paid_csv(spark, snapshot)
                rec = operators.reconcile(live.select(*cols), src.select(*cols))
                return {r["presence"]: r["n_rows"] for r in rec.counts.collect()}

        n_merged = exp["rows"] + exp["batch"]["add_insert"]
        steps = [
            ("snapshot", snap, lambda row: _want_row(row, "archive", exp["rows"])),
            ("merge", merge, lambda row: _want_row(row, "archive", n_merged)),
            ("restage", restage, lambda row: _want_row(row, "garbage_collect", None)),
            ("verify", verify, lambda got: _want(got, exp["reconcile"], "reconcile counts")),
        ]
        res = PassResult(0.0)
        t0 = time.perf_counter()
        for name, fn, chk in steps:
            res.ops.append(_timed(name, fn, chk))
            if not res.ops[-1].ok:
                break  # later steps depend on this one
        res.seconds = time.perf_counter() - t0 - sum(o.check_s for o in res.ops)
        if check and res.ops[-1].ok:
            merged = res.ops[1]
            merged.detail = _check_outcomes(store, f"{tag}-batch", exp["batch"])
            merged.ok = not merged.detail
        shutil.rmtree(root, ignore_errors=True)
        return res


def _want(got, want, what: str) -> str:
    return "" if got == want else f"{what} {got}, expected {want}"


def _want_row(row: dict, decision: str, row_count) -> str:
    """A ledger row's decision and state row count."""
    problem = _want(row["decision"], decision, "decision")
    if not problem and row_count is not None:
        problem = _want(row["row_count"], row_count, "state rows")
    return problem


def _check_outcomes(store, run_id: str, batch: dict) -> str:
    """The merge's ledger outcome counters against the generator's
    arithmetic (a read of the operation log, outside the timed pass)."""
    got = {
        r["outcome"]: r["n_rows"]
        for r in store.operation_log().filter(F.col("run_id") == run_id).collect()
    }
    want = {k: batch[k] for k in ("add_insert", "change_change", "delete_delete")}
    return _want(got, want, "merge outcomes")


WORKLOADS = {w.name: w for w in (IngestCdc, VectorSearch)}
ALL_OPS = [op for w in WORKLOADS.values() for op in w.ops]
