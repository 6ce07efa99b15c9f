"""Per-layer tracing from outside the program.

`install(tracer)` wraps public functions of unifydb_spark modules (and
the DataFrame actions and toPandas) with span recorders; `Tracer.remove()` puts
the originals back. Spans are kept in memory per operation: name, start,
end and the enclosing span of the same thread. Wrappers that start a
layer which may launch Spark jobs also switch the thread's Spark job
group, so each op's jobs can be attributed to a layer afterwards from
Spark's status store (which works with the UI off).
"""

from __future__ import annotations

import functools
import inspect
import os
import statistics
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

from helpers import interval_union, self_times

JOB_GROUP = "spark.jobGroup.id"
SERVER_LABELS = ("tx", "latest", "asof", "historical")


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.op_group: str | None = None
        self.spans: list[list] = []  # [name, start, end or None, parent index]
        self.counts: dict[str, float] = defaultdict(float)

    # -- recording ------------------------------------------------------------

    def begin_op(self, group: str) -> None:
        self.op_group = group
        with self._lock:
            self.spans = []
            self.counts = defaultdict(float)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, group):
        self.sc.setLocalProperty(JOB_GROUP, group)

    def wrap(self, owner, attr: str, name: str, job_layer: str | None = None,
             on_result=None):
        """Replace owner.attr with a span-recording wrapper. `job_layer`
        names the job group suffix used while the call runs; `on_result`
        is called as on_result(tracer, args, kwargs, result) to count."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            stack = tracer._stack()
            parent = stack[-1] if stack else None
            with tracer._lock:
                idx = len(tracer.spans)
                tracer.spans.append([name, time.perf_counter(), None, parent])
            stack.append(idx)
            prev_group = None
            if job_layer is not None and tracer.op_group is not None:
                prev_group = tracer.sc.getLocalProperty(JOB_GROUP)
                tracer._set_group(f"{tracer.op_group}.{job_layer}")
            try:
                result = orig(*args, **kwargs)
            finally:
                if job_layer is not None and tracer.op_group is not None:
                    tracer._set_group(prev_group)
                stack.pop()
                tracer.spans[idx][2] = time.perf_counter()
            if on_result is not None:
                on_result(tracer, args, kwargs, result)
            return result

        self._patched.append((owner, attr, vars(owner).get(attr)))
        setattr(owner, attr, wrapper)
        return wrapper

    def timed(self, name: str, fn):
        """`fn` made into a span recorder that does not patch anything."""
        holder = type("Holder", (), {"fn": staticmethod(fn)})
        return self.wrap(holder, "fn", name)

    def replace(self, owner, attr: str, fn) -> None:
        """Install `fn` as owner.attr, restored by remove()."""
        self._patched.append((owner, attr, vars(owner).get(attr)))
        setattr(owner, attr, fn)

    def count(self, key: str, by: float = 1.0) -> None:
        with self._lock:
            self.counts[key] += by

    def remove(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patched.clear()

    # -- summarising ----------------------------------------------------------

    def self_time_by_name(self) -> dict[str, float]:
        """Summed self time per span name; a span still open counts as
        empty (parent indices refer to the full span list)."""
        spans = [(s[1], s[2] if s[2] is not None else s[1], s[3]) for s in self.spans]
        out: dict[str, float] = defaultdict(float)
        for span, st in zip(self.spans, self_times(spans)):
            out[span[0]] += st
        return out

    def total_time(self, *names: str) -> float:
        """Wall time covered by the spans named `names` (union, so nested
        or concurrent calls are not counted twice)."""
        return interval_union(
            (s[1], s[2]) for s in self.spans if s[0] in names and s[2] is not None
        )

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s[0] == name)


def spark_job_stats(sc, groups: list[str]) -> dict[str, float]:
    """Jobs, stages, tasks and executor time of the jobs in `groups`, read
    from the status store right after the op so retention cannot evict
    them. Skipped stages did no work and are left out."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = {
        "jobs": 0, "stages": 0, "tasks": 0, "job_span_s": 0.0, "run_s": 0.0,
        "cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
    }
    per_group = {}
    intervals, stage_ids = [], set()
    for group in groups:
        ids = list(tracker.getJobIdsForGroup(group))
        per_group[group] = len(ids)
        for job_id in ids:
            job = store.job(job_id)
            out["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append((
                    job.submissionTime().get().getTime() / 1000.0,
                    job.completionTime().get().getTime() / 1000.0,
                ))
            sids = job.stageIds()
            for i in range(sids.size()):
                stage_ids.add(sids.apply(i))
    for sid in stage_ids:
        try:
            stage = store.lastStageAttempt(sid)
        except Py4JJavaError:  # never submitted (NoSuchElementException)
            continue
        if str(stage.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += stage.numTasks()
        out["run_s"] += stage.executorRunTime() / 1000.0
        out["cpu_s"] += stage.executorCpuTime() / 1e9
        out["gc_s"] += stage.jvmGcTime() / 1000.0
        out["shuffle_read_bytes"] += stage.shuffleReadBytes()
        out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
    out["job_span_s"] = interval_union(intervals)
    out["per_group"] = per_group
    return out


def op_metrics(spark, tracer, label: str, wall: float) -> dict:
    """Per-layer figures of one traced op (see README.md). A layer's
    figures appear only when the op reached that layer, so a workload's
    mean is taken over the ops that use the layer."""
    from unifydb_spark import instrument

    g = tracer.op_group
    groups = {k: f"{g}.{k}" for k in ("exec", "compile", "card", "tx", "maintain")}
    jobs = spark_job_stats(spark.sparkContext, list(groups.values()))
    selft = tracer.self_time_by_name()
    c = tracer.counts
    m = {f"spark.{k}": jobs[k] for k in (
        "jobs", "stages", "tasks", "job_span_s", "run_s", "cpu_s", "gc_s",
        "shuffle_read_bytes", "shuffle_write_bytes")}
    m["driver.gap_s"] = max(0.0, wall - jobs["job_span_s"])
    if "catalyst.plan" in selft:
        m["catalyst.plan_s"] = tracer.total_time("catalyst.plan")
    if "query.parse" in selft:
        m["query.parse.self_s"] = selft["query.parse"]
    if "query.compile" in selft:
        m["query.compile.self_s"] = selft["query.compile"]
        m["query.compile.jobs"] = jobs["per_group"][groups["compile"]]
    rounds = [instrument.counters[k] for k in ("rule_fixpoint_rounds", "rule_magic_rounds")
              if k in instrument.counters]
    if rounds:
        m["query.rules.rounds"] = sum(rounds)
    if "supersteps" in c:
        m["operators.graph.supersteps"] = c["supersteps"]
    if "kmeans_iters" in c:
        m["operators.similarity.kmeans_iters"] = c["kmeans_iters"]
    if "engine.decode" in selft or "engine.query_rows" in selft:
        m["engine.decode.self_s"] = (
            selft.get("engine.decode", 0.0) + selft.get("engine.query_rows", 0.0)
        )
    if label in SERVER_LABELS:
        engine_time = tracer.total_time(
            "engine.compile", "engine.query_rows", "engine.transact"
        )
        m["server.self_s"] = max(0.0, wall - engine_time)
        if label != "tx":
            m["server.compiles_per_query"] = tracer.calls("engine.compile")
    if "store.transact" in selft:
        m["store.transact.self_s"] = selft["store.transact"]
    if "store.cardinality" in selft:
        m["store.cardinality.jobs"] = jobs["per_group"][groups["card"]]
    if "store.snapshot" in selft:
        m["store.snapshot.self_s"] = selft["store.snapshot"]
    if "txlog.commit" in selft:
        m["txlog.commit.self_s"] = selft["txlog.commit"]
        m["txlog.commit.retries"] = c.get("commit_retries", 0.0)
    if "txlog.maintain" in selft:
        m["txlog.maintain_s"] = tracer.total_time("txlog.maintain")
        m["txlog.checkpoints"] = c.get("checkpoints", 0.0)
    if c.get("read_calls"):
        m["txlog.read_files"] = c["read_files"] / c["read_calls"]
    if c.get("rows_written"):
        m["txlog.bytes_written_per_fact"] = c["bytes_written"] / c["rows_written"]
    return m


PER_LAYER = [  # name, unit
    ("query.parse.self_s", "s"),
    ("query.compile.self_s", "s"),
    ("query.compile.jobs", "count"),
    ("query.rules.rounds", "count"),
    ("catalyst.plan_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.job_span_s", "s"),
    ("spark.run_s", "s"),
    ("spark.cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("driver.gap_s", "s"),
    ("operators.graph.supersteps", "count"),
    ("operators.similarity.kmeans_iters", "count"),
    ("engine.decode.self_s", "s"),
    ("server.self_s", "s"),
    ("server.compiles_per_query", "count"),
    ("store.transact.self_s", "s"),
    ("store.cardinality.jobs", "count"),
    ("store.snapshot.self_s", "s"),
    ("txlog.commit.self_s", "s"),
    ("txlog.commit.retries", "count"),
    ("txlog.maintain_s", "s"),
    ("txlog.checkpoints", "count"),
    ("txlog.read_files", "count"),
    ("txlog.bytes_written_per_fact", "bytes"),
    ("driver.peak_rss_mb", "MiB"),
    ("trace.overhead_s", "s"),
]


def install(tracer) -> None:
    """Wrap the public functions of each layer the workloads reach."""
    import unifydb_spark.engine as engine_mod
    import unifydb_spark.operators.graph as graph
    import unifydb_spark.operators.similarity as similarity
    import unifydb_spark.query.pull as pull
    from unifydb_spark import instrument
    from unifydb_spark.engine import Engine
    from unifydb_spark.store import FactStore
    from unifydb_spark.txlog import LogParquetBackend

    w = tracer.wrap
    w(engine_mod, "parse_query", "query.parse")
    for mod, fn in ((engine_mod, "compile_where"), (engine_mod, "process_find"),
                    (pull, "attach_pulls")):
        w(mod, fn, "query.compile", job_layer="compile")
    w(Engine, "compile", "engine.compile", job_layer="exec")
    w(Engine, "query_rows", "engine.query_rows", job_layer="exec")
    w(Engine, "transact", "engine.transact", job_layer="tx")
    w(FactStore, "transact", "store.transact", job_layer="tx")
    w(FactStore, "snapshot", "store.snapshot")
    w(FactStore, "cardinality_many_attrs", "store.cardinality", job_layer="card")
    w(LogParquetBackend, "commit_rows", "txlog.commit",
      on_result=lambda t, a, k, ok: ok or t.count("commit_retries"))
    w(LogParquetBackend, "maintain", "txlog.maintain", job_layer="maintain")
    w(LogParquetBackend, "checkpoint", "txlog.checkpoint",
      on_result=lambda t, a, k, r: t.count("checkpoints"))

    def read_files(t, a, k, files):
        t.count("read_calls")
        t.count("read_files", len(files))

    w(LogParquetBackend, "_live_files", "txlog.live_files", on_result=read_files)

    def written(t, a, k, entry):
        path = os.path.join(a[0].data_dir, entry["name"])
        t.count("bytes_written", os.path.getsize(path))
        t.count("rows_written", entry["rows"])

    w(LogParquetBackend, "_write_data_file", "txlog.write", on_result=written)

    def iterations(default_of, key, counter=None):
        def on_result(t, a, k, r):
            n = instrument.counters.get(counter) if counter else None
            t.count(key, n if n is not None else k.get("iters", default_of))
        return on_result

    def default(fn, param):
        return inspect.signature(fn).parameters[param].default

    w(graph, "connected_components", "operators.graph",
      on_result=iterations(0, "supersteps", "cc_supersteps"))
    w(similarity, "kmeans_assign", "operators.similarity",
      on_result=iterations(default(similarity.kmeans_assign, "iters"), "kmeans_iters"))

    # the concrete DataFrame class: toPandas = collect + decode. Actions
    # are spans of their own, so a caller's self time is its Python time;
    # the Catalyst plan is forced (and timed) before each collect
    df_cls = type(tracer.spark.range(1))
    w(df_cls, "toPandas", "engine.decode")
    w(df_cls, "count", "spark.action")
    w(df_cls, "localCheckpoint", "spark.action")
    collect = w(df_cls, "collect", "spark.action")
    plan = tracer.timed("catalyst.plan", lambda df: df._jdf.queryExecution().executedPlan())

    def collect_with_plan(self):
        plan(self)
        return collect(self)

    tracer.replace(df_cls, "collect", collect_with_plan)


def aggregate(per_op: list[dict]) -> dict[str, float]:
    """Mean per op over the ops a metric applies to; 0 where none do."""
    out = {}
    for name, _unit in PER_LAYER:
        vals = [m[name] for m in per_op if name in m]
        out[name] = statistics.fmean(vals) if vals else 0.0
    return out
