"""Measurement plumbing: the process-tree RSS sampler, and the tracer used
by ``--trace 1`` runs.

The tracer works only from outside the program. It wraps the public
functions each layer exposes in a span (name, start, end, parent), reads
Spark's status store over py4j after each operation for the jobs and
stages that operation ran, and reads ``StreamingQuery.recentProgress``
for streaming drains. Nothing inside ``yark_spark`` is modified on disk;
the wrappers are installed on the imported modules and removed again by
:meth:`Tracer.close`.
"""

from __future__ import annotations

import functools
import importlib
import os
import statistics
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss(root: int) -> int:
    """Resident bytes of ``root`` and every descendant, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm", "rb") as f:
                resident = int(f.read().split()[1])
        except OSError:  # the process ended while we looked
            continue
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
        rss[int(name)] = resident * PAGE
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo += children.get(pid, [])
    return total


class RssSampler:
    """Samples the summed RSS of the process tree (this Python process,
    the JVM it launched and the Python workers the JVM forks) every
    ``interval`` seconds on a daemon thread, as (time, bytes) pairs."""

    def __init__(self, interval: float = 0.2):
        self.root = os.getpid()
        self.interval = interval
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.interval):
                return

    def sample(self) -> None:
        self.samples.append((time.time(), tree_rss(self.root)))

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self.sample()

    def peak(self) -> int:
        return max(b for _, b in self.samples)

    def median(self, start: float, end: float) -> float:
        inside = [b for t, b in self.samples if start <= t <= end]
        return statistics.median(inside or [b for _, b in self.samples])


#: layer -> (module, attribute path) of the public functions wrapped in
#: that layer's spans. ``Class.method`` entries wrap the method on the class.
LAYER_FUNCS = {
    "cli": [("yark_spark.cli", "main")],
    "sources": [
        ("yark_spark.sources.infodict", "read_infodicts"),
        ("yark_spark.sources.takeout", "read_watch_history"),
        ("yark_spark.sources.takeout", "dedupe_history"),
        ("yark_spark.sources.takeout", "read_playlist_csv"),
        ("yark_spark.streaming.pipelines", "read_event_stream"),
    ],
    "writes": [
        ("yark_spark.operators.archive", "archive_batch"),
        ("yark_spark.operators.writes", "insert_ignore"),
        ("yark_spark.operators.writes", "upsert"),
        ("yark_spark.operators.writes", "cascade_delete"),
        ("yark_spark.operators.writes", "delete_insert"),
    ],
    "store": [
        ("yark_spark.operators.store", "ParquetStore.commit_tables"),
        ("yark_spark.operators.store", "ParquetStore.write"),
    ],
    "db_sink": [
        ("yark_spark.operators.db_sink", "apply_schema"),
        ("yark_spark.operators.db_sink", "write_partitioned"),
    ],
}


class Span:
    __slots__ = ("layer", "name", "start", "end", "parent", "op")

    def __init__(self, layer, name, start, parent, op):
        self.layer, self.name, self.start, self.parent, self.op = layer, name, start, parent, op
        self.end = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around layer calls plus per-operation Spark job and stage
    metrics, kept in memory and aggregated after the run."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack = threading.local()
        self._restore: list[tuple[object, str, object]] = []
        self._seen_job = -1
        self.op_id = None

    # -- spans ----------------------------------------------------------------

    def install(self) -> "Tracer":
        for layer, funcs in LAYER_FUNCS.items():
            for mod_name, path in funcs:
                owner = importlib.import_module(mod_name)
                *cls, attr = path.split(".")
                if cls:
                    owner = getattr(owner, cls[0])
                orig = getattr(owner, attr)
                self._restore.append((owner, attr, orig))
                setattr(owner, attr, self._wrap(layer, path, orig))
        # archive_batch binds the write operators at import; its internal
        # calls stay inside its own span, so they are deliberately unwrapped
        self.end_op()  # the set-up's jobs belong to no operation
        return self

    def close(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def _wrap(self, layer, name, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    def span(self, layer: str, name: str):
        return _SpanCtx(self, layer, name)

    def _open(self, layer, name) -> Span:
        stack = getattr(self._stack, "s", None)
        if stack is None:
            stack = self._stack.s = []
        sp = Span(layer, name, time.time(), stack[-1] if stack else None, self.op_id)
        stack.append(sp)
        self.spans.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack.s.pop()

    def outer_spans(self, layer: str, op=None) -> list[Span]:
        """Spans of ``layer`` with no ancestor in the same layer, so nested
        calls are not counted twice."""
        out = []
        for sp in self.spans:
            if sp.layer != layer or sp.end is None or (op is not None and sp.op != op):
                continue
            p = sp.parent
            while p is not None and p.layer != layer:
                p = p.parent
            if p is None:
                out.append(sp)
        return out

    # -- Spark jobs -----------------------------------------------------------

    def begin_op(self, op_id: str) -> None:
        self.op_id = op_id
        self.sc.setJobGroup(op_id, op_id)

    def end_op(self) -> list[dict]:
        """Jobs started since the previous call, each with its stage
        metrics summed. Job ids only grow and the benchmark has a single
        client, so these are exactly this operation's jobs, including those
        a streaming query ran on its own thread."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        out, top = [], self._seen_job
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._seen_job:
                continue
            top = max(top, jid)
            done = j.completionTime()
            rec = {"job": jid, "submitted": j.submissionTime().get().getTime() / 1000.0,
                   "completed": done.get().getTime() / 1000.0 if done.isDefined() else time.time(),
                   "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0,
                   "deserialize_ms": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                   "spill_bytes": 0}
            ids = j.stageIds()
            for k in range(ids.size()):
                try:
                    s = store.lastStageAttempt(ids.apply(k))
                except Exception:  # stage evicted from the store
                    continue
                if s.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += s.numTasks()
                rec["run_ms"] += s.executorRunTime()
                rec["cpu_ms"] += s.executorCpuTime() / 1e6
                rec["gc_ms"] += s.jvmGcTime()
                rec["deserialize_ms"] += s.executorDeserializeTime()
                rec["shuffle_read_bytes"] += s.shuffleReadBytes()
                rec["shuffle_write_bytes"] += s.shuffleWriteBytes()
                rec["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out.append(rec)
        self._seen_job = top
        self.op_id = None
        return out


class _SpanCtx:
    __slots__ = ("t", "layer", "name", "sp")

    def __init__(self, t, layer, name):
        self.t, self.layer, self.name = t, layer, name

    def __enter__(self):
        self.sp = self.t._open(self.layer, self.name)
        return self.sp

    def __exit__(self, *exc):
        self.t._close(self.sp)
        return False


def jobs_within(jobs: list[dict], spans: list[Span]) -> list[dict]:
    """Jobs submitted inside any of ``spans`` (wall-clock containment)."""
    return [j for j in jobs if any(sp.start <= j["submitted"] <= sp.end for sp in spans)]


def time_outside_jobs(jobs: list[dict], spans: list[Span]) -> float:
    """Seconds of ``spans`` during which none of ``jobs`` was running."""
    total = 0.0
    for sp in spans:
        covered, cursor = 0.0, sp.start
        for a, b in sorted((max(j["submitted"], sp.start), min(j["completed"], sp.end)) for j in jobs):
            if b > cursor:
                covered += b - max(a, cursor)
                cursor = b
        total += sp.dur - covered
    return total
