"""Per-layer tracing around the benchmark's calls into the package.

Nothing inside the package is instrumented. A traced op wraps each of
its calls into a layer in ``Probe.phase(name)``, which

- puts the phase's Spark jobs in their own job group, so jobs and their
  stages can be read back from the status tracker and status store;
- sends the Catalyst phase times of queries run in the phase (from a
  ``QueryExecutionListener``) to that phase;
- counts persisted RDDs around the ``release`` phase, and the
  ``RELEASE_STATS`` deltas the release makes.

Streaming micro-batches run on the stream's own thread under a job
group of their own, so they are counted by a ``StreamingQueryListener``
instead. Listener callbacks arrive asynchronously; a phase drains the
listener bus before it ends so its events are attributed to it.

An untraced op gets ``NULL_PROBE``, whose phases do nothing.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql.streaming import StreamingQueryListener

from loan_default_prediction_app_big_data_spark.pinning import RELEASE_STATS

#: Catalyst phases whose time counts as planning.
PLAN_PHASES = ("analysis", "optimization", "planning")
#: How long a phase waits for the listener bus to drain.
DRAIN_TIMEOUT_MS = 60_000


class _NullProbe:
    @contextmanager
    def phase(self, name: str):
        yield


NULL_PROBE = _NullProbe()


class _PlanListener:
    """JVM ``QueryExecutionListener``: Catalyst time per benchmark phase."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.phase: str | None = None
        self.plan_ms: dict[str, float] = defaultdict(float)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        phases = qe.tracker().phases()
        ms = sum(phases.apply(p).durationMs() for p in PLAN_PHASES if phases.contains(p))
        with self.lock:
            if self.phase is not None:
                self.plan_ms[self.phase] += ms

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _StreamListener(StreamingQueryListener):
    """Micro-batch progress of every streaming query the op runs."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self.lock:
            self.microbatches = 0
            self.input_rows = 0
            self.state_rows = 0
            self.state_memory_bytes = 0
            self.trigger_ms = 0.0

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        state_rows = sum(s.numRowsTotal for s in p.stateOperators)
        state_mem = sum(s.memoryUsedBytes for s in p.stateOperators)
        with self.lock:
            self.microbatches += 1
            self.input_rows += p.numInputRows
            self.state_rows = max(self.state_rows, state_rows)
            self.state_memory_bytes = max(self.state_memory_bytes, state_mem)
            self.trigger_ms += p.durationMs.get("triggerExecution", 0)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


class Tracer:
    """Listeners and JVM handles for one traced session."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        ensure_callback_server_started(self.sc._gateway)
        self.plans = _PlanListener()
        spark._jsparkSession.listenerManager().register(self.plans)
        self.streams = _StreamListener()
        spark.streams.addListener(self.streams)
        self.store = self.sc._jsc.sc().statusStore()
        self._gc_beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        self.seq = 0

    def close(self) -> None:
        self.spark.streams.removeListener(self.streams)
        self.spark._jsparkSession.listenerManager().unregister(self.plans)

    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(DRAIN_TIMEOUT_MS)

    def gc_ms(self) -> int:
        return sum(self._gc_beans.get(i).getCollectionTime() for i in range(self._gc_beans.size()))

    def persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def probe(self) -> Probe:
        self.seq += 1
        return Probe(self, self.seq)


class Probe:
    """Spans and counters for one traced op."""

    def __init__(self, tracer: Tracer, seq: int) -> None:
        self.t = tracer
        self.seq = seq
        self.seconds: dict[str, float] = defaultdict(float)
        self.groups: dict[str, str] = {}
        self.pins: dict[str, int] = {}
        tracer.drain()
        tracer.streams.reset()
        with tracer.plans.lock:
            tracer.plans.plan_ms.clear()
        self.gc0 = tracer.gc_ms()
        self.rdds0 = tracer.persistent_rdds()
        self.release0 = dict(RELEASE_STATS)

    @contextmanager
    def phase(self, name: str):
        group = f"perfbench-{self.seq}-{name}"
        self.groups[name] = group
        sc = self.t.sc
        if name == "release":
            self.pins["created"] = self.t.persistent_rdds() - self.rdds0
        sc.setJobGroup(group, name)
        with self.t.plans.lock:
            self.t.plans.phase = name
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] += time.perf_counter() - t0
            self.t.drain()
            with self.t.plans.lock:
                self.t.plans.phase = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            if name == "release":
                self.pins["outstanding"] = self.t.persistent_rdds() - self.rdds0

    def job_ids(self, name: str) -> list[int]:
        group = self.groups.get(name)
        return list(self.t.sc.statusTracker().getJobIdsForGroup(group)) if group else []

    def job_names(self, name: str) -> list[str]:
        return [self.t.store.job(j).name() for j in self.job_ids(name)]

    def stage_totals(self) -> dict[str, float]:
        """Status-store metrics over every stage of every job the op ran."""
        tracker = self.t.sc.statusTracker()
        stage_ids: set[int] = set()
        for name in self.groups:
            for j in self.job_ids(name):
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
        tot: dict[str, float] = defaultdict(float)
        for sid in stage_ids:
            try:
                sd = self.t.store.lastStageAttempt(sid)
            except Py4JJavaError:  # never submitted, or evicted from the store
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            tot["stages"] += 1
            tot["tasks"] += sd.numCompleteTasks()
            tot["input_bytes"] += sd.inputBytes()
            tot["input_records"] += sd.inputRecords()
            tot["output_bytes"] += sd.outputBytes()
            tot["output_records"] += sd.outputRecords()
            tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
            tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            tot["executor_run_s"] += sd.executorRunTime() / 1e3
            tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        return tot

    def layers(self) -> dict[str, float]:
        """The op's per-layer record, keyed by the benchmark's metric names."""
        self.t.drain()
        st = self.stage_totals()
        s = self.t.streams
        with s.lock:
            stream = {
                "streaming.microbatches": s.microbatches,
                "streaming.input_rows": s.input_rows,
                "streaming.state_rows": s.state_rows,
                "streaming.state_memory_bytes": s.state_memory_bytes,
                # Share of the op's wall time spent in micro-batch
                # triggers: a ratio, so ops that stream nothing read 0
                # without posing as a measured time.
                "streaming.trigger_share": s.trigger_ms / 1e3 / max(sum(self.seconds.values()), 1e-9),
            }
        with self.t.plans.lock:
            plan_s = self.t.plans.plan_ms.get("execute", 0.0) / 1e3
        rec = {
            "session.jvm_gc_s": (self.t.gc_ms() - self.gc0) / 1e3,
            "sources.input_bytes": st["input_bytes"],
            "sources.input_records": st["input_records"],
            "sources.output_bytes": st["output_bytes"],
            "sources.output_records": st["output_records"],
            "plans.stages": st["stages"],
            "plans.tasks": st["tasks"],
            "plans.shuffle_read_bytes": st["shuffle_read_bytes"],
            "plans.shuffle_write_bytes": st["shuffle_write_bytes"],
            "plans.spill_bytes": st["spill_bytes"],
            "plans.executor_run_s": st["executor_run_s"],
            "plans.executor_cpu_s": st["executor_cpu_s"],
        }
        # Phase-specific entries only for the phases this op ran, so a
        # workload's mean is over the ops that have the phase.
        if "build" in self.groups:
            rec["plans.build_s"] = self.seconds["build"]
            rec["plans.build_jobs"] = len(self.job_ids("build"))
        if "execute" in self.groups:
            rec["plans.plan_s"] = plan_s
            rec["plans.execute_s"] = self.seconds["execute"]
            rec["plans.execute_jobs"] = len(self.job_ids("execute"))
        if "release" in self.groups:
            rec["pinning.pins_created"] = self.pins["created"]
            rec["pinning.pins_outstanding"] = self.pins["outstanding"]
            rec["pinning.released"] = RELEASE_STATS["released"] - self.release0["released"]
            rec["pinning.release_errors"] = RELEASE_STATS["errors"] - self.release0["errors"]
            rec["pinning.release_s"] = self.seconds["release"]
        if "serve" in self.groups:
            rec["ml.serve_jobs_per_request"] = len(self.job_ids("serve"))
        rec.update(stream)
        return rec
