"""Spans around the package's layers, for the benchmark's traced run.

A layer is a sub-package of ``reddit_big_data_spark`` (``operators``,
``ml``, ``sources``, ``streaming``, ``plans``, ``session``). While a
``Tracer`` is installed, every public function defined in one of those
modules is replaced by a wrapper that records a span: name, start, end,
parent span and the query being run. Query modules bind many of these
functions with ``from ... import`` at import time, so the wrapper is
bound in the defining module and in every loaded package module that
holds the same function object. Nothing inside the package changes;
``uninstall`` puts every original back.

Spark jobs are attributed two ways:

- to a query, by the driver's job-id counter read when the query starts,
  when its DataFrame is built and when its force returns. Queries run one
  at a time, so this also catches jobs from driver threads that lost the
  thread-local job properties;
- to a span, by a job tag the span sets on its own thread while it is
  open. A job belongs to the innermost span whose tag it carries.

Counters per query are read afterwards from the AppStatusStore, for that
query's job ids only, so reading costs the same however long the run is.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import pkgutil
import sys
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.ml.base import Estimator
from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "reddit_big_data_spark"
LAYERS = ("operators", "ml", "sources", "streaming", "plans", "session")
# The operator modules with per-layer metrics of their own.
OPERATOR_FAMILIES = (
    "simjoin", "components", "dedup", "similarity", "pq", "clustering", "text",
)
_READS = ("sources.io.read_", "sources.io.table_schema", "sources.bucketing.read_")
_WRITES = ("sources.io.write_", "sources.bucketing.write_")
_SCHEMA_LOOKUPS = ("read_table", "table_schema")


@dataclass(eq=False)
class Span:
    # "<layer>.<module>.<function>", e.g. "operators.simjoin.similarity_join",
    # or "ml.fit" for a pyspark.ml Estimator.fit call.
    name: str
    tag: str
    query: str | None
    parent: Span | None
    thread: int
    start: float
    end: float = 0.0
    wall_start: float = 0.0
    children: list[Span] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_seconds(self) -> float:
        return self.seconds - sum(c.seconds for c in self.children)

    def within(self, prefix: str) -> bool:
        s = self.parent
        while s is not None:
            if s.name.startswith(prefix):
                return True
            s = s.parent
        return False


class _BatchListener(StreamingQueryListener):
    """Collects one record per streaming micro-batch progress event."""

    def __init__(self, batches: list[dict]):
        self._batches = batches

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        self._batches.append({
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "start": start.timestamp(),
            "seconds": p.durationMs.get("triggerExecution", 0) / 1000.0,
            "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
        })

    def onQueryTerminated(self, event) -> None:
        pass


def layer_modules() -> list:
    """Import and return every module of the traced layers."""
    mods = []
    for layer in LAYERS:
        mod = importlib.import_module(f"{PACKAGE}.{layer}")
        mods.append(mod)
        if hasattr(mod, "__path__"):
            for info in pkgutil.iter_modules(mod.__path__, f"{mod.__name__}."):
                mods.append(importlib.import_module(info.name))
    return mods


class Tracer:
    """Records spans while installed; see the module docstring."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._local = threading.local()
        self._lock = threading.Lock()
        self._tags = itertools.count()
        self._patches: list[tuple[object, str, object]] = []
        self.spans: list[Span] = []
        self.batches: list[dict] = []
        self.query: str | None = None
        self.schema_lookups = 0
        self.schema_hits = 0
        # Exact simjoin pair counts, taken only while counting is set.
        self.counting = False
        self.candidate_pairs = 0
        self.output_pairs = 0
        self._listener = _BatchListener(self.batches)
        spark.streams.addListener(self._listener)

    def install(self) -> None:
        originals: dict[int, object] = {}
        for mod in layer_modules():
            short = mod.__name__[len(PACKAGE) + 1:]
            for name, fn in vars(mod).items():
                if (
                    not name.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__
                ):
                    originals[id(fn)] = self._wrap(f"{short}.{name}", fn)
        for mod in [m for n, m in sys.modules.items() if n.startswith(PACKAGE) and m]:
            for name, val in list(vars(mod).items()):
                wrapper = originals.get(id(val))
                if wrapper is not None and inspect.isfunction(val):
                    self._patches.append((mod, name, val))
                    setattr(mod, name, wrapper)
        # ml.models hands back pyspark.ml estimators and the query fits
        # them, so the fit itself is the ml layer's boundary.
        self._patches.append((Estimator, "fit", Estimator.fit))
        Estimator.fit = self._wrap("ml.fit", Estimator.fit)

    def uninstall(self) -> None:
        for mod, name, val in reversed(self._patches):
            setattr(mod, name, val)
        self._patches.clear()

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _wrap(self, name: str, fn):
        tracer = self
        short = name.rsplit(".", 1)[1]
        lookup = name.startswith("sources.io.") and short in _SCHEMA_LOOKUPS
        # A stream started under a job tag sends a start event that
        # pyspark's listener cannot decode, so streaming spans set none;
        # their jobs still count toward the query.
        tagged = not name.startswith("streaming.")
        count = name in (
            "operators.simjoin.prefix_candidates",
            "operators.simjoin.similarity_join",
        )
        if lookup:
            from reddit_big_data_spark.sources import io as _io

            params = inspect.signature(fn)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if lookup:
                a = params.bind(*args, **kwargs).arguments
                tracer._schema_lookup(_io, (a["sf_dir"], a["name"]))
            stack = tracer._stack()
            span = Span(
                name=name,
                tag=f"perfbench-{next(tracer._tags)}",
                query=tracer.query,
                parent=stack[-1] if stack else None,
                thread=threading.get_ident(),
                start=time.perf_counter(),
                wall_start=time.time(),
            )
            if tagged:
                tracer.sc.addJobTag(span.tag)
            stack.append(span)
            try:
                out = fn(*args, **kwargs)
            finally:
                stack.pop()
                if tagged:
                    tracer.sc.removeJobTag(span.tag)
                span.end = time.perf_counter()
                with tracer._lock:
                    if span.parent is not None:
                        span.parent.children.append(span)
                    tracer.spans.append(span)
            if count and tracer.counting:
                n = out.count()
                if short == "prefix_candidates":
                    tracer.candidate_pairs += n
                else:
                    tracer.output_pairs += n
            return out

        return traced

    def _schema_lookup(self, io_mod, key) -> None:
        with self._lock:
            self.schema_lookups += 1
            self.schema_hits += key in io_mod._SCHEMA_CACHE

    def close(self, spark) -> None:
        self.uninstall()
        spark.streams.removeListener(self._listener)


def store_counters(sc, job_ids: range) -> dict:
    """Counters of the given jobs, read from the AppStatusStore job by job.

    Returns the tags of every job and, summed over the non-skipped stages
    those jobs ran, the stage and task counts, executor time, bytes moved
    and the [submit, complete] wall intervals (epoch seconds) of each
    stage. ``missing`` counts jobs the store no longer holds.
    """
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    out = {
        "tags": {}, "missing": 0, "stages": 0, "tasks": 0,
        "executor_run_s": 0.0, "executor_cpu_s": 0.0, "shuffle_write_bytes": 0,
        "spill_bytes": 0, "input_bytes": 0, "stage_intervals": [],
    }
    seen: set[int] = set()
    for jid in job_ids:
        try:
            job = store.job(jid)
        except Exception:  # evicted, or never reached the store
            out["missing"] += 1
            continue
        tags = job.jobTags().mkString(",")
        out["tags"][jid] = [t for t in tags.split(",") if t]
        for sid in (int(s) for s in job.stageIds().mkString(",").split(",") if s):
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(
                sid, False, gw.jvm.java.util.ArrayList(), False,
                gw.new_array(gw.jvm.double, 0),
            )
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["input_bytes"] += sd.inputBytes()
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    out["stage_intervals"].append(
                        (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                    )
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of the intervals."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def pass_layers(tracer: Tracer, queries: list[dict], cpus: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass.

    ``queries`` holds one record per query run in the pass: name, the
    perf-counter and epoch times of start, build end and force end, the
    job ids at those three points, the store counters of its jobs and the
    persisted-block probes taken when its force returned.
    """
    names = {q["name"] for q in queries}
    t_lo = min(q["t"][0] for q in queries)
    t_hi = max(q["t"][3] for q in queries)
    spans = [
        s for s in tracer.spans if s.query in names and t_lo <= s.start <= t_hi
    ]
    by_tag = {s.tag: s for s in spans}
    m: dict[str, float] = {}
    wall = sum(q["t"][2] - q["t"][0] for q in queries)
    m["queries.build_s"] = sum(q["t"][1] - q["t"][0] for q in queries)
    m["queries.execute_s"] = sum(q["t"][2] - q["t"][1] for q in queries)
    m["queries.build_jobs"] = sum(q["jobs"][1] - q["jobs"][0] for q in queries)
    m["queries.execute_jobs"] = sum(q["jobs"][2] - q["jobs"][1] for q in queries)
    for key in ("stages", "tasks", "executor_run_s", "executor_cpu_s"):
        m[f"queries.{key}"] = sum(q["counters"][key] for q in queries)
    mb = 1024.0 * 1024.0
    m["queries.shuffle_write_mb"] = sum(q["counters"]["shuffle_write_bytes"] for q in queries) / mb
    m["queries.spill_mb"] = sum(q["counters"]["spill_bytes"] for q in queries) / mb
    m["queries.input_mb"] = sum(q["counters"]["input_bytes"] for q in queries) / mb
    # No task runs outside a stage's [submitted, completed] interval, so
    # the part of a query's wall time no stage covers is driver-only time.
    m["queries.driver_idle_s"] = sum(
        (q["wall"][2] - q["wall"][0])
        - covered(q["counters"]["stage_intervals"], q["wall"][0], q["wall"][2])
        for q in queries
    )
    m["queries.executor_busy_frac"] = m["queries.executor_run_s"] / (wall * cpus)

    # Innermost tagged span of each job: tags are span-creation ordered,
    # and a nested span is always created after its parent.
    innermost: dict[int, Span] = {}
    for q in queries:
        for jid, tags in q["counters"]["tags"].items():
            mine = [by_tag[t] for t in tags if t in by_tag]
            if mine:
                innermost[jid] = max(mine, key=lambda s: int(s.tag.rsplit("-", 1)[1]))

    def jobs_where(pred) -> int:
        return sum(1 for s in innermost.values() if pred(s))

    for fam in OPERATOR_FAMILIES:
        prefix = f"operators.{fam}."
        m[f"operators.{fam}.s"] = sum(s.self_seconds for s in spans if s.name.startswith(prefix))
        m[f"operators.{fam}.jobs"] = jobs_where(lambda s: s.name.startswith(prefix))

    def outermost(prefix: str) -> list[Span]:
        return [s for s in spans if s.name.startswith(prefix) and not s.within(prefix)]

    m["ml.fit_s"] = sum(s.seconds for s in outermost("ml."))
    m["ml.fit_jobs"] = jobs_where(lambda s: s.name.startswith("ml.") or s.within("ml."))

    reads = [s for s in spans if s.name.startswith(_READS) and not s.within("sources.")]
    m["sources.read_calls"] = len(reads)
    m["sources.read_s"] = sum(s.seconds for s in reads)
    m["sources.spread_calls"] = sum(1 for s in spans if s.name == "sources.io.spread")
    m["sources.write_s"] = sum(
        s.seconds for s in spans if s.name.startswith(_WRITES) and not s.within("sources.")
    )

    stream_spans = outermost("streaming.")
    batches = [
        b for b in tracer.batches
        if any(q["wall"][0] <= b["start"] <= q["wall"][2] for q in queries)
    ]
    m["streaming.batches"] = len(batches)
    m["streaming.batch_s"] = sum(b["seconds"] for b in batches)
    batch_iv = [(b["start"], b["start"] + b["seconds"]) for b in batches]
    m["streaming.overhead_s"] = sum(
        s.seconds - covered(batch_iv, s.wall_start, s.wall_start + s.seconds)
        for s in stream_spans
    )
    last: dict[str, dict] = {}
    for b in batches:
        if b["run_id"] not in last or b["batch_id"] > last[b["run_id"]]["batch_id"]:
            last[b["run_id"]] = b
    m["streaming.state_rows"] = sum(b["state_rows"] for b in last.values())

    m["plans.release_s"] = sum(
        s.seconds for s in spans if s.name == "plans.cache.release_local_checkpoints"
    )
    m["plans.leaked_blocks"] = sum(q["leaked_blocks"] for q in queries)
    m["plans.cached_mb_peak"] = max(q["cached_bytes"] for q in queries) / mb
    m["session.confs_s"] = sum(
        s.self_seconds for s in spans if s.name == "session.apply_runtime_confs"
    )
    return m
