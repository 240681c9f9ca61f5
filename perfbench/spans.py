"""Tracing from outside the program: timing spans around the public
functions of each ``gate_spark`` module, Spark job metrics read from the
application status store, and the JVM's own counters.

Nothing here edits ``gate_spark``. ``Tracer.install`` replaces a
function in every loaded ``gate_spark`` module that binds it (so calls
from inside the package are traced too) and ``Tracer.uninstall`` puts
the originals back. Spans live in memory. A span records the Spark job
ids started while it was open (the DAG scheduler's job counter before
and after) and the bytes the driver JVM read meanwhile (``Jvm``).
``JobStats`` turns job ids into task time and bytes written by reading
``sparkContext.statusStore()``, which is kept with the UI disabled.
"""

from __future__ import annotations

import importlib
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# layer -> (module, attribute) pairs to wrap; a dotted attribute names
# a method on a class in that module
LAYERS = {
    "pipeline": ("gate_spark.pipeline", ["validate_tokens"]),
    "summarize": ("gate_spark.operators.summarize", ["summarize"]),
    "constraints": ("gate_spark.operators.constraints", ["evaluate_constraints"]),
    "distribution": ("gate_spark.operators.distribution", ["distribution_drift"]),
    "drift": ("gate_spark.operators.drift", ["detect_drift", "drift_scores", "drift_scores_driver"]),
    "clustering": ("gate_spark.operators.clustering", ["compute_clusters"]),
    "iceberg": (
        "gate_spark.iceberg",
        ["read_table", "partition_snapshot_stamps", "current_snapshot_id"],
    ),
    "checkpoint": (
        "gate_spark.checkpoint",
        [
            "CheckpointStore.pending_by_stamps", "CheckpointStore.pending_partitions",
            "CheckpointStore.sketch_state", "CheckpointStore.mark_completed",
        ],
    ),
    "sketches": (
        "gate_spark.sketches", ["column_sketches", "sketches_to_json", "sketches_from_json"],
    ),
    "cli": ("gate_spark.cli", ["main"]),
}


@dataclass
class Span:
    name: str
    t0: float
    t1: float = 0.0
    j0: int = 0
    j1: int = 0
    read_b: int = 0
    parent: "Span | None" = None
    children: list = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def jobs(self) -> range:
        return range(self.j0, self.j1)

    def self_time(self) -> float:
        return self.dur - sum(c.dur for c in self.children)

    def self_jobs(self) -> list[int]:
        inner = {j for c in self.children for j in c.jobs}
        return [j for j in self.jobs if j not in inner]


class Tracer:
    """In-memory span recorder. Harness code opens spans with
    :meth:`span`; :meth:`install` wraps the layer functions."""

    def __init__(self, spark, read_bytes) -> None:
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._read_bytes = read_bytes
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._saved: list[tuple[object, str, object]] = []

    def job_count(self) -> int:
        return int(self._dag.numTotalJobs())

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        r0 = self._read_bytes()
        s = Span(name, time.perf_counter(), j0=self.job_count(), parent=parent)
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.j1 = self.job_count()
            s.t1 = time.perf_counter()
            s.read_b = self._read_bytes() - r0
            self.spans.append(s)

    def _wrapper(self, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as s:
                if name == "pipeline.validate_tokens" and kwargs.get("stage_times") is None:
                    # the public per-stage timing hook, filled in place
                    kwargs["stage_times"] = s.attrs
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        for layer, (modname, attrs) in LAYERS.items():
            mod = importlib.import_module(modname)
            for attr in attrs:
                owner, fname = mod, attr
                if "." in attr:
                    cls, fname = attr.split(".")
                    owner = getattr(mod, cls)
                orig = getattr(owner, fname)
                wrapped = self._wrapper(f"{layer}.{fname}", orig)
                targets = [owner] if owner is not mod else [
                    m for n, m in list(sys.modules.items())
                    if n.startswith("gate_spark") and getattr(m, fname, None) is orig
                ]
                for t in targets:
                    self._saved.append((t, fname, orig))
                    setattr(t, fname, wrapped)

    def uninstall(self) -> None:
        for owner, fname, orig in reversed(self._saved):
            setattr(owner, fname, orig)
        self._saved.clear()

    def reset(self) -> None:
        self.spans.clear()


class JobStats:
    """Per-job totals from the application status store: completed
    tasks, executor run time, output and shuffle-write bytes, and spill.
    (Its ``inputBytes`` is not used: the parquet scans here report a few
    KB for tens of MB read, so only re-reads of cached blocks showed.) A stage shared by several jobs counts once, in the first
    job that lists it (later jobs skip it)."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._owner: dict[int, int] = {}
        self._jobs: dict[int, dict] = {}

    def job(self, jid: int) -> dict:
        if jid not in self._jobs:
            self._load(jid)
        return self._jobs[jid]

    def _load(self, jid: int) -> None:
        tot = dict(tasks=0, task_s=0.0, output_b=0, shuffle_b=0, spill_b=0)
        self._jobs[jid] = tot
        try:
            stage_ids = str(self._store.job(jid).stageIds().mkString(","))
        except Exception:  # py4j error: job not retained in the store
            return
        for sid in (int(x) for x in stage_ids.split(",") if x):
            if self._owner.setdefault(sid, jid) != jid:
                continue
            st = self._store.lastStageAttempt(sid)
            tot["tasks"] += int(st.numCompleteTasks())
            tot["task_s"] += int(st.executorRunTime()) / 1000.0
            tot["output_b"] += int(st.outputBytes())
            tot["shuffle_b"] += int(st.shuffleWriteBytes())
            tot["spill_b"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._bus.waitUntilEmpty(30_000)

    def total(self, jobs) -> dict:
        """Totals over job ids; ``jobs`` is an iterable of ids."""
        out = dict(jobs=0, tasks=0, task_s=0.0, output_b=0, shuffle_b=0, spill_b=0)
        for j in sorted(set(jobs)):
            for k, v in self.job(j).items():
                out[k] += v
            out["jobs"] += 1
        return out


class Jvm:
    """The driver JVM's peak resident memory, bytes read and collector
    time."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._mx = jvm.java.lang.management.ManagementFactory

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not in /proc status")

    def read_bytes(self) -> int:
        """Bytes the JVM has read through read syscalls (``rchar``):
        file scans and local shuffle fetches; cached blocks held in
        memory do not count."""
        with open(f"/proc/{self.pid}/io") as fh:
            for line in fh:
                if line.startswith("rchar:"):
                    return int(line.split()[1])
        raise RuntimeError("rchar not in /proc io")

    def gc_s(self) -> float:
        beans = self._mx.getGarbageCollectorMXBeans()
        return sum(int(beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1000.0
