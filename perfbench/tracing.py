"""Spans, Spark job counters and layer wrappers for the benchmark.

Every layer is timed from outside: the wrappers here replace the
public functions a workload calls into (on the module that imports
them) for the length of one ``with`` block and restore them after.
Nothing in the engine is edited.

Two kinds of numbers come out of a run:

* spans (name, start, end, parent) kept in memory and written to a
  JSON trace file at the end of the run;
* worker-side counts and busy time, gathered through Spark
  accumulators by wrapping the per-batch functions of the fetch stage
  and the Arrow UDFs (traced runs only: the wrappers change the plan's
  Python functions, so they are never installed in a timed run).
"""
from __future__ import annotations

import contextlib
import json
import os
import time
import warnings
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class JobCounter:
    """Spark job / stage / task counts read by id range.

    Job and stage ids are handed out in sequence by the scheduler, so
    the jobs launched between two reads are exactly the ids in between,
    whichever thread or job group launched them.  Task counts come from
    the driver executor's cumulative total in the status store, which
    is updated by the listener bus: ``snapshot`` drains the bus first
    (traced runs only, since the drain waits)."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()

    def jobs_stages(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def tasks(self) -> int:
        self._sc.listenerBus().waitUntilEmpty(10_000)
        execs = self._sc.statusStore().executorList(False)
        return sum(int(execs.apply(i).totalTasks()) for i in range(execs.size()))

    def snapshot(self) -> tuple[int, int, int]:
        tasks = self.tasks()
        return (*self.jobs_stages(), tasks)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Wall time covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """In-memory span recorder.  ``parent`` is the current root span
    (a crawl round or a query pass) unless given explicitly: calls made
    from pool threads belong to the round that is open when they
    start."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.current: int | None = None

    def open(self, name: str, start: float | None = None,
             parent: int | None = None, **attrs) -> Span:
        t = time.perf_counter() if start is None else start
        sp = Span(len(self.spans), name, t, t, parent, attrs)
        self.spans.append(sp)
        return sp

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        sp = self.open(name, parent=self.current if parent is None else parent,
                       **attrs)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()

    def children(self, sp: Span, prefix: str = "") -> list[Span]:
        return [c for c in self.spans
                if c.parent == sp.sid and c.name.startswith(prefix)]

    def write(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump([{"id": s.sid, "name": s.name,
                        "start": round(s.start - t0, 6),
                        "end": round(s.end - t0, 6),
                        "parent": s.parent, **s.attrs}
                       for s in self.spans], f, indent=0)


def wrap_calls(tracer: Tracer, stack: contextlib.ExitStack, owner,
               names: list[str], layer: str, on_return=None) -> None:
    """Replace ``owner.<name>`` by a version that records a
    ``<layer>.<name>`` span around each call, for the life of *stack*.
    ``on_return(name, args, result, span)`` may add attributes."""
    for name in names:
        orig = getattr(owner, name)

        def make(orig=orig, name=name):
            def traced(*args, **kwargs):
                with tracer.span(f"{layer}.{name}") as sp:
                    out = orig(*args, **kwargs)
                if on_return is not None:
                    on_return(name, args, out, sp)
                return out
            return traced

        setattr(owner, name, make())
        stack.callback(setattr, owner, name, orig)


# ---------------------------------------------------------------------------
# worker-side counters (accumulators)
# ---------------------------------------------------------------------------


class WorkerCounters:
    """Accumulators filled inside Python workers."""

    NAMES = ("fetch_rows", "fetch_busy_s", "udf_rows", "udf_busy_s",
             "probe_rows", "probe_maybe")

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.acc = {n: sc.accumulator(0.0 if n.endswith("_s") else 0)
                    for n in self.NAMES}

    def values(self) -> dict[str, float]:
        return {n: a.value for n, a in self.acc.items()}


def counted_fetch_stage(make_fetch_stage, counters: WorkerCounters):
    """``make_fetch_stage`` whose mapInPandas function also counts the
    rows it receives and the time from receiving a batch to yielding
    its result (time waiting for input is not counted)."""
    rows, busy = counters.acc["fetch_rows"], counters.acc["fetch_busy_s"]

    def make(cfg):
        inner = make_fetch_stage(cfg)

        def fetch(batches):
            got = [0.0]

            def feed():
                for pdf in batches:
                    rows.add(len(pdf))
                    got[0] = time.perf_counter()
                    yield pdf

            for out in inner(feed()):
                busy.add(time.perf_counter() - got[0])
                yield out

        return fetch

    return make


def counted_udf(real, rows, busy=None, maybe=None):
    """A pandas UDF running ``real.func`` with row/busy counting;
    *real* itself when it does not expose its Python function."""
    from pyspark.sql.functions import pandas_udf

    func = getattr(real, "func", None)
    if func is None:
        return real

    def counted(*series):
        t = time.perf_counter()
        out = func(*series)
        if busy is not None:
            busy.add(time.perf_counter() - t)
        rows.add(len(series[0]))
        if maybe is not None:
            maybe.add(int(out.sum()))
        return out

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        return pandas_udf(counted, real.returnType, real.evalType)


def counted_column_udf(column_fn, udf_cache: dict, key: str,
                       counters: WorkerCounters):
    """Wrap a function returning a Column built from a cached pandas
    UDF (``urlnorm.urljoin_udf`` / ``canonicalize_udf``).  The real
    function runs first, so the cached UDF is whatever the engine
    builds today; when the cache entry is absent the real Column is
    returned uncounted rather than replaced."""
    rows, busy = counters.acc["udf_rows"], counters.acc["udf_busy_s"]
    wrapped: dict[int, object] = {}

    def fn(*cols):
        col = column_fn(*cols)
        real = udf_cache.get(key)
        if real is None or getattr(real, "func", None) is None:
            return col
        if id(real) not in wrapped:
            wrapped[id(real)] = counted_udf(real, rows, busy)
        return wrapped[id(real)](*cols)

    return fn


def counted_probe_udf(probe_udf, counters: WorkerCounters):
    rows, maybe = counters.acc["probe_rows"], counters.acc["probe_maybe"]

    def make(spark, sketch):
        return counted_udf(probe_udf(spark, sketch), rows, maybe=maybe)

    return make


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set size of the driver JVM (VmHWM)."""
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def persisted(spark) -> tuple[int, float]:
    """(persisted RDD count, MB held in memory and on disk)."""
    sc = spark.sparkContext._jsc
    n = int(sc.getPersistentRDDs().size())
    infos = sc.sc().getRDDStorageInfo()
    mb = sum(int(i.memSize()) + int(i.diskSize()) for i in infos) / 1e6
    return n, mb


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under *path*."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size
