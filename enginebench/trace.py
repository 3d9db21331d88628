"""Spans and Spark counters for the traced run.

Spans are recorded only from the benchmark's side of each layer
boundary: :func:`install` replaces the public functions of
``mrjob_spark.session``, ``catalog``, ``operators.*``,
``streaming.{ops,io}`` and the dataflow runner entry points with
wrappers, in every ``mrjob_spark`` module namespace that holds them.
Nothing inside ``mrjob_spark`` is edited. The benchmark opens the
``queries`` (build) and ``execute`` spans itself.

Each span runs its Spark jobs under its own job group, so after a job
the counters of every Spark job and stage are read from Spark's status
stores by group and attributed to the innermost span that launched
them. Spans stay in memory; the worker writes them once at the end.
"""

from __future__ import annotations

import functools
import inspect
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "enginebench-"

#: Operator modules whose self time is reported one by one.
OPERATOR_MODULES = ("dedup", "partitioning")
#: Plan nodes that cross the JVM/Python boundary.
_PY_NODE = re.compile(r"Python|Pandas|InArrow")
#: Layers at whose span exit the persisted-storage total is sampled.
_CACHE_SAMPLED = {"queries", "execute", "dataflow", "streaming"}


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    phase: str
    job: int | None  # root span of the benchmark job it ran in
    t0: float
    t1: float = 0.0
    steps: int = 0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


@dataclass
class StageStats:
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_read_bytes: int = 0
    shuffle_read_rows: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_rows: int = 0
    spill_bytes: int = 0
    task_max_ms: float = 0.0
    task_median_ms: float = 0.0


@dataclass
class SparkJob:
    jid: int
    sid: int | None  # innermost span, None for stream-internal jobs
    phase: str
    stages: dict = field(default_factory=dict)  # stage id -> StageStats
    python: bool = False


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class Tracer:
    """Collects spans and the Spark jobs each one launched."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.jobs: list[SparkJob] = []
        self.active = False
        self.phase = "build"
        self.job_root: int | None = None
        self.cache_peak = 0
        self.spark = None
        self.sc = None
        self._local = threading.local()
        self._main_stack: list[Span] | None = None
        self._lock = threading.Lock()
        self._next_sid = 0
        self._next_sql = 0
        self._sql_jobs: dict[int, bool] = {}  # job id -> has a Python node
        self._harvested_sids: set[int] = set()

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
            if self._main_stack is None:
                self._main_stack = stack
        return stack

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield None
            return
        stack = self._stack()
        if stack:
            parent = stack[-1].sid
        elif stack is not self._main_stack and self._main_stack:
            # a callback thread (e.g. foreachBatch) nests under whatever
            # the driver thread is waiting in
            parent = self._main_stack[-1].sid
        else:
            parent = self.job_root
        with self._lock:
            sid = self._next_sid
            self._next_sid += 1
        sp = Span(sid, name, layer, parent, self.phase, self.job_root, 0.0)
        sc = self.sc
        prev = sc.getLocalProperty(GROUP_KEY) if sc is not None else None
        if sc is not None:
            sc.setLocalProperty(GROUP_KEY, f"{GROUP_PREFIX}{sid}")
        stack.append(sp)
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty(GROUP_KEY, prev)
            self.spans.append(sp)
            if layer in _CACHE_SAMPLED or layer.startswith("operators"):
                self.cache_peak = max(self.cache_peak, self.cached_bytes())

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, layer) as sp:
                result = fn(*args, **kwargs)
                if sp is not None and name.endswith(".make_runner"):
                    sp.steps = len(args[0].steps())
            if layer == "streaming" and inspect.isfunction(result):
                # a foreachBatch factory: trace the callback it returns
                return tracer.wrap(result, f"{name}.batch", layer)
            return result

        return traced

    @contextmanager
    def paused(self):
        """Calls made by the benchmark itself, not by the job under test."""
        active, self.active = self.active, False
        try:
            yield
        finally:
            self.active = active

    @contextmanager
    def job(self, name: str):
        """The root span of one benchmark job; spans opened on any thread
        until it closes belong to it."""
        with self.span(f"job.{name}", "job") as sp:
            if sp is not None:
                self.job_root = sp.sid
            try:
                yield sp
            finally:
                self.job_root = None

    # -- Spark status stores -------------------------------------------
    def cached_bytes(self) -> int:
        if self.sc is None:
            return 0
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    def gc_seconds(self) -> float:
        if self.sc is None:
            return 0.0
        beans = self.sc._gateway.jvm.java.lang.management.ManagementFactory
        return sum(
            max(0, int(b.getCollectionTime()))
            for b in beans.getGarbageCollectorMXBeans()
        ) / 1000.0

    def harvest(self, extra_groups: dict[str, str] | None = None) -> None:
        """Read the Spark jobs launched under spans not yet harvested (and
        under ``extra_groups``: group id -> phase, e.g. a stream's run id)."""
        sc = self.sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        owners: list[tuple[str, int | None, str]] = []
        for sp in self.spans:
            if sp.sid not in self._harvested_sids:
                self._harvested_sids.add(sp.sid)
                owners.append((f"{GROUP_PREFIX}{sp.sid}", sp.sid, sp.phase))
        for group, phase in (extra_groups or {}).items():
            owners.append((group, None, phase))
        gw = sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0] = 0.5
        quantiles[1] = 1.0
        for group, sid, phase in owners:
            for jid in tracker.getJobIdsForGroup(group):
                job = SparkJob(int(jid), sid, phase)
                for stage_id in _seq(store.job(jid).stageIds()):
                    try:
                        sd = store.lastStageAttempt(stage_id)
                    except Py4JJavaError:  # never submitted (skipped)
                        continue
                    if sd.status().toString() == "SKIPPED":
                        continue
                    st = StageStats(
                        tasks=sd.numTasks(),
                        failed_tasks=sd.numFailedTasks(),
                        run_ms=sd.executorRunTime(),
                        cpu_ns=sd.executorCpuTime(),
                        gc_ms=sd.jvmGcTime(),
                        input_bytes=sd.inputBytes(),
                        input_rows=sd.inputRecords(),
                        shuffle_read_bytes=sd.shuffleReadBytes(),
                        shuffle_read_rows=sd.shuffleReadRecords(),
                        shuffle_write_bytes=sd.shuffleWriteBytes(),
                        shuffle_write_rows=sd.shuffleWriteRecords(),
                        spill_bytes=sd.diskBytesSpilled(),
                    )
                    if st.tasks >= 2:
                        summary = store.taskSummary(
                            stage_id, sd.attemptId(), quantiles
                        )
                        if summary.isDefined():
                            rt = summary.get().executorRunTime()
                            st.task_median_ms = rt.apply(0)
                            st.task_max_ms = rt.apply(1)
                    job.stages[stage_id] = st
                self.jobs.append(job)
        self._harvest_sql()

    def _harvest_sql(self) -> None:
        """Mark the jobs that cross the JVM/Python boundary: those of SQL
        executions with a Python plan node, and RDD jobs, which this
        engine only builds from Python functions."""
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        while (ex := sql_store.execution(self._next_sql)).isDefined():
            nodes = _seq(sql_store.planGraph(self._next_sql).allNodes())
            python = any(_PY_NODE.search(n.name()) for n in nodes)
            for jid in _seq(ex.get().jobs().keys().toList()):
                self._sql_jobs[int(jid)] = python
            self._next_sql += 1
        for job in self.jobs:
            job.python = self._sql_jobs.get(job.jid, True)

    def reset_pass(self) -> None:
        self.spans = []
        self.jobs = []
        self.cache_peak = 0
        self._harvested_sids = set()


def pass_metrics(tracer: Tracer, *, slots: int, spawns: dict[int, int],
                 gc_s: float, cache_leftover: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass. ``spawns`` maps each job
    root span to the processes created while it ran."""
    spans = {sp.sid: sp for sp in tracer.spans}
    child_time: dict[int, float] = {}
    for sp in spans.values():
        if sp.parent in spans:
            child_time[sp.parent] = child_time.get(sp.parent, 0.0) + sp.dur

    def self_time(sp: Span) -> float:
        return max(0.0, sp.dur - child_time.get(sp.sid, 0.0))

    def chain(sid):
        while sid in spans:
            yield spans[sid]
            sid = spans[sid].parent

    def under(sid, prefix: str) -> bool:
        return any(sp.layer.startswith(prefix) for sp in chain(sid))

    def outermost(prefix: str) -> list[Span]:
        return [sp for sp in spans.values() if sp.layer.startswith(prefix)
                and not under(sp.parent, prefix)]

    def root_of(job: SparkJob):
        return spans[job.sid].job if job.sid in spans else None

    def stages(jobs):
        seen: dict[int, StageStats] = {}
        for job in jobs:
            seen.update(job.stages)
        return list(seen.values())

    m: dict[str, float] = {}
    configure = [sp for sp in spans.values()
                 if sp.name == "session.configure_session"]
    m["session.configure_calls"] = len(configure)
    m["session.configure_s"] = sum(sp.dur for sp in configure)

    m["catalog.load_calls"] = sum(
        sp.name == "catalog.load_table" for sp in spans.values())
    m["catalog.load_s"] = sum(sp.dur for sp in outermost("catalog"))
    m["catalog.jobs"] = sum(under(j.sid, "catalog") for j in tracer.jobs)

    build_jobs = [j for j in tracer.jobs if j.phase == "build"]
    exec_jobs = [j for j in tracer.jobs if j.phase == "exec"]
    m["build.s"] = sum(sp.dur for sp in outermost("queries"))
    m["build.jobs"] = len(build_jobs)
    m["build.job_share"] = len(build_jobs) / max(1, len(tracer.jobs))

    exec_s = sum(sp.dur for sp in outermost("execute"))
    ex = stages(exec_jobs)
    run_s = sum(st.run_ms for st in ex) / 1e3
    skewed = [st for st in ex if st.tasks >= 2 and st.task_median_ms > 0]
    m.update({
        "exec.s": exec_s,
        "exec.jobs": len(exec_jobs),
        "exec.stages": len(ex),
        "exec.tasks": sum(st.tasks for st in ex),
        "exec.tasks_failed": sum(st.failed_tasks for st in ex),
        "exec.run_s": run_s,
        "exec.cpu_s": sum(st.cpu_ns for st in ex) / 1e9,
        "exec.gc_s": sum(st.gc_ms for st in ex) / 1e3,
        "exec.core_util": run_s / (exec_s * slots) if exec_s else 0.0,
        "exec.task_skew": (
            sum(st.task_max_ms for st in skewed)
            / sum(st.task_median_ms for st in skewed) if skewed else 1.0),
        "exec.input_bytes": sum(st.input_bytes for st in ex),
        "exec.input_rows": sum(st.input_rows for st in ex),
        "exec.shuffle_read_bytes": sum(st.shuffle_read_bytes for st in ex),
        "exec.shuffle_write_bytes": sum(st.shuffle_write_bytes for st in ex),
        "exec.spill_bytes": sum(st.spill_bytes for st in ex),
    })

    ops = [sp for sp in spans.values() if sp.layer.startswith("operators")]
    m["operators.calls"] = len(ops)
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.s"] = sum(
            self_time(sp) for sp in ops if sp.layer == f"operators.{mod}")

    m["py.stage_run_s"] = sum(
        st.run_ms for st in stages(j for j in tracer.jobs if j.python)) / 1e3

    runners = outermost("dataflow")
    roots = {sp.job for sp in runners}
    df_stages = stages(j for j in tracer.jobs if root_of(j) in roots)
    mapped = [st for st in df_stages if st.shuffle_write_rows]
    m["dataflow.runner_calls"] = len(runners)
    m["dataflow.runner_s"] = sum(sp.dur for sp in runners)
    m["dataflow.steps"] = sum(sp.steps for sp in spans.values())
    m["dataflow.shuffle_bytes"] = sum(st.shuffle_write_bytes for st in df_stages)
    m["dataflow.combine_ratio"] = (
        sum(st.shuffle_write_rows for st in mapped)
        / max(1, sum(st.input_rows + st.shuffle_read_rows for st in mapped)))
    m["dataflow.spawns"] = sum(n for root, n in spawns.items() if root in roots)

    m["cache.persisted_bytes_peak"] = tracer.cache_peak
    m["cache.leftover_bytes"] = cache_leftover
    m["jvm.gc_s"] = gc_s
    return m


def install(tracer: Tracer) -> None:
    """Route the public entry points of each layer through ``tracer``."""
    import importlib
    import pkgutil

    import mrjob_spark.operators
    from mrjob_spark.dataflow.job import SparkMRJob
    from mrjob_spark.dataflow.runner import SparkJobRunner

    targets = [("session", "session"), ("catalog", "catalog"),
               ("streaming.ops", "streaming"), ("streaming.io", "streaming")]
    targets += [(f"operators.{m.name}", f"operators.{m.name}")
                for m in pkgutil.iter_modules(mrjob_spark.operators.__path__)]
    replacements: dict[int, tuple] = {}
    for short, layer in targets:
        module = importlib.import_module(f"mrjob_spark.{short}")
        for name, fn in list(vars(module).items()):
            if (name.startswith(("_", "sql_")) or not inspect.isfunction(fn)
                    or fn.__module__ != module.__name__):
                continue
            replacements[id(fn)] = (fn, tracer.wrap(fn, f"{short}.{name}", layer))
    for mod_name, module in list(sys.modules.items()):
        if not mod_name.startswith("mrjob_spark") or module is None:
            continue
        for attr, value in list(vars(module).items()):
            hit = replacements.get(id(value))
            if hit is not None and hit[0] is value:
                setattr(module, attr, hit[1])
    for cls, names in (
        (SparkJobRunner, ("run", "output_pairs", "to_dataframe",
                          "collect_output", "cat_output")),
        (SparkMRJob, ("make_runner",)),
    ):
        for name in names:
            setattr(cls, name,
                    tracer.wrap(getattr(cls, name), f"dataflow.{name}", "dataflow"))
