"""Layer spans for the benchmark, recorded from outside the package.

Every timed call into a layer runs inside ``Tracer.span(layer)``. With
tracing off a span is two clock reads. With tracing on, a span also:

* labels its jobs with a unique Spark job group (``perfbench:<layer>:<n>``);
* after the call, drains the listener bus and reads from the status
  store every job submitted during the span, and each job's stages:
  executor run time, shuffle write, disk spill and output bytes;
* derives driver-only time: span wall time not covered by any of its
  jobs' [submission, completion] intervals.

Jobs are attributed by job-id window, not by group alone: the load is one
client in a closed loop, so every job submitted between a span's start
and end belongs to it, including jobs submitted from threads that do not
inherit the group (``runner.build_gold``'s thread pool, the streaming
micro-batch thread).

Streaming progress comes from a benchmark-side ``StreamingQueryListener``.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# layers in report order; the names are the repo's modules (and the
# Spark phases the harness hands off to)
LAYERS = (
    "session", "sources",
    "plans.bronze", "plans.locations", "plans.silver", "plans.gold", "plans.gold_incr",
    "harness", "spark.plan", "spark.exec",
    "streaming", "plans.corpus", "plans.corpus.exec",
)
SPAN_METRICS = {
    "wall_s": "s", "jobs": "count", "executor_run_s": "s", "core_util": "ratio",
    "driver_only_s": "s", "shuffle_write_bytes": "B", "spill_bytes": "B", "output_bytes": "B",
}
EXTRA_METRICS = {
    "spark.plan.analysis_ms": "ms", "spark.plan.optimization_ms": "ms",
    "spark.plan.planning_ms": "ms",
    "streaming.micro_batches": "count", "streaming.add_batch_ms": "ms",
    "streaming.rows_in": "count", "streaming.accept_ratio": "ratio",
    "session.peak_rss_mb": "MB",
    "io.bronze_bytes": "B", "io.silver_bytes": "B", "io.gold_bytes": "B", "io.files": "count",
}
PHASES = ("analysis", "optimization", "planning")


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name the traced run prints, with its unit."""
    names = {f"{layer}.{m}": u for layer in LAYERS for m, u in SPAN_METRICS.items()}
    names.update(EXTRA_METRICS)
    return names


class PeakRss:
    """Peak resident memory of a set of processes (the Python driver and
    its JVM) over a window, from ``VmHWM`` after resetting it."""

    def __init__(self, pids: tuple[int, ...]):
        self.pids = pids

    def reset(self) -> None:
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")

    def read_mb(self) -> float:
        total_kib = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/status") as f:
                total_kib += int(next(ln for ln in f if ln.startswith("VmHWM:")).split()[1])
        return total_kib / 1024.0


class CpuClock:
    """CPU seconds (user + system) spent by the Python driver, its JVM and
    the JVM's descendants (Python workers), read from ``/proc``. Unlike
    wall time it does not grow while a shared host lends the CPUs to
    another guest (steal time)."""

    TICK = os.sysconf("SC_CLK_TCK")

    def __init__(self, driver_pid: int, jvm_pid: int):
        self.driver_pid, self.jvm_pid = driver_pid, jvm_pid

    @staticmethod
    def _stat(pid: int) -> list[str] | None:
        try:
            with open(f"/proc/{pid}/stat") as f:
                # fields after the parenthesised command name
                return f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            return None

    def seconds(self) -> float:
        children: dict[int, list[int]] = defaultdict(list)
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit() and (st := self._stat(int(name))) is not None:
                stats[int(name)] = st
                children[int(st[1])].append(int(name))
        pids, todo = {self.driver_pid}, [self.jvm_pid]
        while todo:
            pid = todo.pop()
            pids.add(pid)
            todo.extend(children.get(pid, ()))
        ticks = 0
        for pid in pids:
            st = stats.get(pid)
            if st is not None:
                # utime, stime, and the reaped children's cutime, cstime
                ticks += sum(int(x) for x in st[11:15])
        return ticks / self.TICK


class StealClock:
    """Seconds the host lent this machine's CPUs to other guests (steal
    time), per CPU, from the ``steal`` column of ``/proc/stat``. A
    latency taken as wall time less the steal over its window does not
    grow with the host's load, yet still grows when work loses
    parallelism or waits."""

    TICK = os.sysconf("SC_CLK_TCK")

    @classmethod
    def seconds(cls) -> float:
        with open("/proc/stat") as f:
            lines = f.read().splitlines()
        n_cpus = sum(1 for ln in lines if ln.startswith("cpu") and ln[3:4].isdigit())
        # cpu  user nice system idle iowait irq softirq steal ...
        return int(lines[0].split()[8]) / cls.TICK / max(1, n_cpus)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Collects one record per span; ``enabled=False`` keeps only wall time."""

    def __init__(self, enabled: bool, cores: int):
        self.enabled = enabled
        self.cores = cores
        self.spans: dict[str, list[dict]] = defaultdict(list)
        self.extra: dict[str, list[float]] = defaultdict(list)
        self._spark = None
        self._next_job = 0
        self._listener = None
        self._progress: list = []

    def attach(self, spark) -> None:
        """Bind to the session once it exists (the session span itself
        precedes it and records wall time only)."""
        self._spark = spark
        if self.enabled:
            self._listener = _progress_listener(self._progress)
            spark.streams.addListener(self._listener)

    def detach(self) -> None:
        if self._listener is not None:
            self._spark.streams.removeListener(self._listener)
            self._listener = None

    @contextmanager
    def span(self, layer: str):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        if not self.enabled or self._spark is None:
            t0 = time.perf_counter()
            yield
            self.spans[layer].append({"wall_s": time.perf_counter() - t0})
            return
        sc = self._spark.sparkContext
        self._skip_past_jobs()
        sc.setJobGroup(f"perfbench:{layer}:{sum(map(len, self.spans.values()))}", layer)
        t0_ms, t0 = time.time() * 1000.0, time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            t1_ms = t0_ms + wall * 1000.0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans[layer].append(self._collect(wall, t0_ms, t1_ms))

    def reset(self) -> None:
        """Drop the spans recorded so far except the session's (warm-up
        calls are not scored)."""
        for layer in list(self.spans):
            if layer != "session":
                del self.spans[layer]
        self.extra.clear()

    def note(self, name: str, value: float) -> None:
        """A layer-specific per-call value (phases, streaming, io)."""
        self.extra[name].append(float(value))

    def phases(self, df) -> None:
        """Record Catalyst phase times of ``df``'s query execution; call
        after forcing its executed plan."""
        if not self.enabled:
            return
        summaries = df._jdf.queryExecution().tracker().phases()
        for p in PHASES:
            opt = summaries.get(p)
            self.note(f"spark.plan.{p}_ms", opt.get().durationMs() if opt.isDefined() else 0)

    def take_progress(self) -> list:
        """Streaming progress events received since the last call."""
        if not self.enabled:
            return []
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        out, self._progress[:] = list(self._progress), []
        return out

    def _skip_past_jobs(self) -> None:
        """Move the job-id window past jobs run outside any span."""
        jsc = self._spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        while True:
            try:
                store.job(self._next_job)
            except Py4JJavaError:  # NoSuchElementException: no newer job
                return
            self._next_job += 1

    def _collect(self, wall: float, t0_ms: float, t1_ms: float) -> dict:
        jsc = self._spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        rec = {"wall_s": wall, "jobs": 0, "executor_run_s": 0.0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "output_bytes": 0}
        intervals = []
        while True:
            try:
                job = store.job(self._next_job)
            except Py4JJavaError:  # NoSuchElementException: no newer job
                break
            self._next_job += 1
            rec["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else t1_ms
                intervals.append((max(sub.get().getTime(), t0_ms), min(end, t1_ms)))
            ids = job.stageIds()
            for k in range(ids.size()):
                st = store.lastStageAttempt(ids.apply(k))
                if st.status().toString() == "SKIPPED":
                    continue
                rec["executor_run_s"] += st.executorRunTime() / 1000.0
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["spill_bytes"] += st.diskBytesSpilled()
                rec["output_bytes"] += st.outputBytes()
        rec["driver_only_s"] = max(0.0, wall - _union_ms([i for i in intervals if i[1] > i[0]]) / 1000.0)
        return rec

    def per_layer(self) -> dict[str, float]:
        """Per-call medians of each span metric (0 for a layer the
        workload never calls), core utilisation over the layer's total
        time, and the medians of the layer-specific values."""
        out: dict[str, float] = {}
        for layer in LAYERS:
            recs = self.spans.get(layer, [])
            for m in SPAN_METRICS:
                if m == "core_util":
                    wall = sum(r["wall_s"] for r in recs)
                    busy = sum(r.get("executor_run_s", 0.0) for r in recs)
                    out[f"{layer}.{m}"] = busy / (wall * self.cores) if wall else 0.0
                else:
                    vals = [r.get(m, 0) for r in recs]
                    out[f"{layer}.{m}"] = statistics.median(vals) if vals else 0
        for name in EXTRA_METRICS:
            vals = self.extra.get(name, [])
            out[name] = statistics.median(vals) if vals else 0
        return out


def _progress_listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append({
                "rows_in": p.numInputRows,
                "add_batch_ms": p.durationMs.get("addBatch", 0),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()
