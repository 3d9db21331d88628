"""The benchmark's workloads, each driving one engine surface through its
public entry points.

All are closed loops: one driver thread submits the next job only after
the previous one has finished.

* ``mr_jobs`` runs registry queries written as MRJob-style dataflow
  jobs. A job is one query: build (the registry function, until the
  DataFrame is returned) plus execute (``collect``). Every result is
  checked against the query's DuckDB oracle over the same inputs.
* ``dedup_ingest`` streams the arrival files through
  ``streaming.ops.neardup_ingest_foreach_batch``, one file per trigger,
  against a pre-built history band index. A job is one micro-batch.
  Every pass is checked against the ``lsh_band_admission`` batch twin.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from enginebench import trace

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@dataclass
class JobResult:
    name: str
    seconds: float
    build_s: float = 0.0
    exec_s: float = 0.0
    error: str | None = None
    digest: str | None = None


@dataclass
class PassResult:
    seconds: float
    jobs: list[JobResult]
    layers: dict = field(default_factory=dict)


def _last_pid() -> int | None:
    """Last PID handed out in this PID namespace; the difference over a
    job is the number of processes created meanwhile."""
    try:
        with open("/proc/sys/kernel/ns_last_pid") as fh:
            return int(fh.read())
    except OSError:
        return None


def _canon_digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result, with columns ordered by name
    and floats rounded to 9 digits (the oracle suite's comparison)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())

    def canon(v):
        if v is None:
            return ("_null",)
        if isinstance(v, float):
            return ("_nan",) if math.isnan(v) else ("f", round(v, 9))
        if hasattr(v, "isoformat"):
            return ("t", v.isoformat())
        if isinstance(v, bool):
            return ("b", v)
        if isinstance(v, int):
            return ("i", v)
        return ("s", str(v))

    canon_rows = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    head = sorted(c.lower() for c in columns)
    return hashlib.sha256(repr((head, canon_rows)).encode()).hexdigest()


class Workload:
    #: Nominal cold-pass and steady-pass seconds, measured on a 4-core VM.
    #: They fix how many passes a run of a given length makes, so every
    #: run of a workload makes the same number.
    nominal_cold_s: float
    nominal_pass_s: float
    #: Steady passes run and discarded after the cold pass.
    warmup_passes = 1

    def __init__(self, spark, inputs: str, run_dir: str, tracer: trace.Tracer):
        self.spark = spark
        self.tables = os.path.join(inputs, "tables")
        self.inputs = inputs
        self.run_dir = run_dir
        self.tracer = tracer
        self.slots = spark.sparkContext.defaultParallelism

    def measured_passes(self, seconds: float) -> int:
        """Passes that give ``pass_s`` and the job samples in a run that
        measures for ``seconds``, after the cold and warm-up passes."""
        left = seconds - self.nominal_cold_s - self.warmup_passes * self.nominal_pass_s
        return max(1, int(left / self.nominal_pass_s + 0.5))

    def _finish_traced(self, spawns: dict[int, int], gc0: float,
                       extra: dict) -> dict:
        t = self.tracer
        m = trace.pass_metrics(
            t, slots=self.slots, spawns=spawns,
            gc_s=t.gc_seconds() - gc0, cache_leftover=t.cached_bytes())
        m.update(extra)
        return m


class MrJobs(Workload):
    """MRJob-authored registry queries through ``dataflow/``: combiner,
    two-step chain, SORT_VALUES secondary sort, counters, and a subprocess
    substep, each over one scan of the documents table."""
    queries = ("x1_dataflow_wordcount", "x2_dataflow_most_used_word",
               "mr_next_word_stats", "a8_o3_counters_sorted",
               "x5_dataflow_pipe_grep")
    nominal_cold_s = 17.5
    nominal_pass_s = 8.3

    def run_pass(self) -> PassResult:
        from mrjob_spark.operators.dedup import unpersist_intermediates
        from mrjob_spark.queries import REGISTRY

        t = self.tracer
        traced = t.active
        gc0 = t.gc_seconds() if traced else 0.0
        spawns: dict[int, int] = {}
        jobs = []
        for name in self.queries:
            df = None
            res = JobResult(name, 0.0)
            pid0 = _last_pid()
            with t.job(name) as root:
                t0 = time.perf_counter()
                try:
                    with t.span(f"queries.{name}", "queries"):
                        df = REGISTRY[name].fn(self.spark, self.tables)
                    t1 = time.perf_counter()
                    t.phase = "exec"
                    with t.span("execute", "execute"):
                        rows = df.collect()
                    t2 = time.perf_counter()
                    res.build_s, res.exec_s = t1 - t0, t2 - t1
                except Exception as exc:  # counted as a failed job
                    t2 = time.perf_counter()
                    res.error = f"{type(exc).__name__}: {exc}"[:500]
                finally:
                    t.phase = "build"
            res.seconds = t2 - t0
            pid1 = _last_pid()
            if df is not None:
                with t.paused():
                    unpersist_intermediates(df)
            if res.error is None:
                res.digest = _canon_digest(df.columns, rows)
            if traced:
                t.harvest()
                if root is not None and pid0 is not None and pid1 is not None:
                    spawns[root.sid] = pid1 - pid0
            jobs.append(res)
        result = PassResult(sum(j.seconds for j in jobs), jobs)
        if traced:
            result.layers = self._finish_traced(spawns, gc0, {})
        return result

    def check(self, passes: list[PassResult]) -> None:
        """Compare every job's result with its DuckDB oracle; a mismatch
        becomes the job's error."""
        import duckdb

        from mrjob_spark.queries import REGISTRY

        con = duckdb.connect()
        for name in TABLES:
            path = os.path.join(self.tables, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        expected = {}
        for name in self.queries:
            rel = con.execute(REGISTRY[name].sql)
            cols = [d[0] for d in rel.description]
            expected[name] = _canon_digest(cols, rel.fetchall())
        con.close()
        for p in passes:
            for job in p.jobs:
                if job.error is None and job.digest != expected[job.name]:
                    job.error = "result differs from the oracle"


class DedupIngest(Workload):
    """Near-dup admission of streamed arrivals against a growing band index."""
    nominal_cold_s = 20.0
    nominal_pass_s = 6.0

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.arrivals = os.path.join(self.inputs, "arrivals")
        self.n_files = len(os.listdir(self.arrivals))
        self.history = os.path.join(self.inputs, "history_index")
        self._passes = 0
        ids = pq.read_table(os.path.join(self.tables, "documents.parquet"),
                            columns=["doc_id"])["doc_id"].to_numpy()
        self.history_docs = int((ids % 10 != 9).sum())

    def _documents(self):
        return self.spark.read.parquet(
            os.path.join(self.tables, "documents.parquet")).select("doc_id", "text")

    def _pass_dir(self, i: int) -> str:
        return os.path.join(self.run_dir, f"ingest-pass{i}")

    def run_pass(self) -> PassResult:
        from mrjob_spark.streaming.io import read_stream_parquet
        from mrjob_spark.streaming.ops import neardup_ingest_foreach_batch

        t = self.tracer
        traced = t.active
        base = self._pass_dir(self._passes)
        self._passes += 1
        index = os.path.join(base, "index")
        shutil.copytree(self.history, index)
        gc0 = t.gc_seconds() if traced else 0.0
        pid0 = _last_pid()
        error = None
        query = None
        with t.job("dedup_ingest") as root:
            t0 = time.perf_counter()
            try:
                with t.span("queries.dedup_ingest", "queries"):
                    sdf = read_stream_parquet(
                        self.spark, self.arrivals,
                        schema="doc_id long, text string",
                        max_files_per_trigger=1)
                    query = (
                        sdf.writeStream.foreachBatch(neardup_ingest_foreach_batch(
                            index, os.path.join(base, "verdicts")))
                        .option("checkpointLocation", os.path.join(base, "checkpoint"))
                        .trigger(availableNow=True)
                        .start())
                t.phase = "exec"
                with t.span("execute", "execute"):
                    query.awaitTermination()
            except Exception as exc:  # the whole pass counts as failed
                error = f"{type(exc).__name__}: {exc}"[:500]
            finally:
                t.phase = "build"
            seconds = time.perf_counter() - t0
        pid1 = _last_pid()
        progress = [p for p in (query.recentProgress if query else [])
                    if p["numInputRows"] > 0]
        jobs = [JobResult(f"batch{p['batchId']}",
                          p["durationMs"]["triggerExecution"] / 1e3, error=error)
                for p in progress]
        if error is not None or len(jobs) != self.n_files:
            jobs = [JobResult(f"batch{i}", 0.0, error=error or "missing batch")
                    for i in range(self.n_files)]
        result = PassResult(seconds, jobs)
        if traced:
            spawns = {}
            if root is not None and pid0 is not None and pid1 is not None:
                spawns[root.sid] = pid1 - pid0
            t.harvest({str(query.runId): "exec"} if query else None)
            result.layers = self._finish_traced(
                spawns, gc0, self._stream_metrics(progress, index))
        return result

    def _stream_metrics(self, progress: list, index: str) -> dict:
        n = max(1, len(progress))

        def mean_ms(*keys):
            return sum(p["durationMs"].get(k, 0) for p in progress
                       for k in keys) / n / 1e3

        files = [os.path.join(d, f) for d, _, fs in os.walk(index) for f in fs
                 if f.endswith(".parquet")]
        n_docs = self.history_docs + sum(p["numInputRows"] for p in progress)
        exec_jobs = sum(j.phase == "exec" for j in self.tracer.jobs)
        return {
            "stream.batches": len(progress),
            "stream.batch_s": mean_ms("triggerExecution"),
            "stream.batch_jobs": exec_jobs / n,
            "stream.plan_s": mean_ms("queryPlanning"),
            "stream.offset_s": mean_ms("latestOffset", "getBatch"),
            "stream.commit_s": mean_ms("walCommit", "commitOffsets"),
            "stream.add_batch_s": mean_ms("addBatch"),
            "stream.index_bytes_per_doc": sum(os.path.getsize(f) for f in files) / n_docs,
            "stream.index_files": len(files),
        }

    def check(self, passes: list[PassResult]) -> None:
        """Each pass: one verdict per arrival, and the admitted set equals
        the one-shot ``lsh_band_admission`` twin's. A mismatch becomes the
        error of every batch in the pass."""
        from mrjob_spark.operators.dedup import lsh_band_admission

        docs = self._documents()
        arrivals = docs.where("doc_id % 10 = 9")
        arrival_ids = {r.doc_id for r in arrivals.select("doc_id").collect()}
        hist = self.spark.read.parquet(self.history).select("band_idx", "band_hash")
        twin = {r.doc_id for r in lsh_band_admission(arrivals, hist)
                .where("verdict = 'new'").select("doc_id").collect()}
        for i, p in enumerate(passes):
            if any(j.error for j in p.jobs):
                continue
            got = pq.read_table(os.path.join(self._pass_dir(i), "verdicts"),
                                columns=["doc_id", "verdict"]).to_pylist()
            ids = [r["doc_id"] for r in got]
            admitted = {r["doc_id"] for r in got if r["verdict"] == "new"}
            error = None
            if len(ids) != len(set(ids)) or set(ids) != arrival_ids:
                error = "not exactly one verdict per arrival"
            elif admitted != twin:
                error = "admitted set differs from the batch twin"
            for job in p.jobs:
                job.error = error


WORKLOADS = {"mr_jobs": MrJobs, "dedup_ingest": DedupIngest}
