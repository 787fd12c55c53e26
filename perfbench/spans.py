"""Spans around the calls into each layer, with Spark counters read from
the driver's status store and attributed to a call by its stage-id
window (rules.stage_window).

The tracer is a no-op when tracing is off: ``Tracer.layer`` then only
runs the body, so untraced runs pay nothing for it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

import rules


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    counters: dict = field(default_factory=dict)


class SparkProbe:
    """Reads the driver's engine state through py4j: the next stage id,
    completed stages from the status store, cached RDD blocks, JVM GC
    time and process memory."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.spark = spark
        self.jvm = sc._jvm
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        status = self.jvm.org.apache.spark.status.api.v1.StageStatus
        self.statuses = self.jvm.java.util.ArrayList()
        self.statuses.add(status.COMPLETE)
        self.statuses.add(status.FAILED)
        self.no_quantiles = sc._gateway.new_array(self.jvm.double, 0)
        self.mapper = self.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = self.jvm.com.fasterxml.jackson.module.scala
        self.mapper.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        self.jvm_pid = int(self.jvm.java.lang.ProcessHandle.current().pid())

    def next_stage_id(self) -> int:
        return int(self.jsc.dagScheduler().nextStageId())

    def stages_since(self, first: int) -> list[dict]:
        """Status-store records of the stages with id >= ``first``, once
        the listener bus has delivered every event posted so far."""
        self.jsc.listenerBus().waitUntilEmpty()
        # Spark 4.1 exposes only the full five-argument signature
        newest_first = self.store.stageList(
            self.statuses, False, False, self.no_quantiles,
            self.jvm.java.util.ArrayList())
        window = newest_first.take(max(self.next_stage_id() - first, 0) * 2)
        return [s for s in json.loads(self.mapper.writeValueAsString(window))
                if s["stageId"] >= first]

    def cached_blocks(self) -> int:
        return sum(int(i.numCachedPartitions())
                   for i in self.jsc.getRDDStorageInfo())

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(int(b.getCollectionTime()), 0) for b in beans) / 1000.0

    def release_blocks(self) -> None:
        """Drop every persisted and locally checkpointed RDD block, so
        no operation reads blocks an earlier one left behind."""
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def peak_rss_mb(self) -> float:
        """Peak resident set of this Python process plus the driver JVM."""
        return sum(_vm_hwm_kb(pid) for pid in ("self", self.jvm_pid)) / 1024.0


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Tracer:
    """Records one span per operation and one child span per layer call.

    With ``enabled`` false it records nothing. ``overhead_s`` is the
    wall time spent in the tracer's own bookkeeping (status-store reads,
    block counts), which the untraced run does not pay.
    """

    def __init__(self, probe: SparkProbe, enabled: bool):
        self.probe = probe
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self.stage_walls: list[float] = []
        self._op_span: int | None = None

    @contextmanager
    def operation(self, op: int):
        if not self.enabled:
            yield
            return
        self.spans.append(Span("operation", time.time(), 0.0, None, op))
        self._op_span = len(self.spans) - 1
        try:
            yield
        finally:
            self.spans[self._op_span].end = time.time()
            self._op_span = None

    @contextmanager
    def layer(self, name: str):
        if not self.enabled:
            yield
            return
        t = time.time()
        p = self.probe
        first, gc0 = p.next_stage_id(), p.gc_s()
        self.overhead_s += time.time() - t
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            op = self.spans[self._op_span].op if self._op_span is not None else -1
            counters = rules.stage_window(
                p.stages_since(first), first, p.next_stage_id(),
                start * 1000.0, end * 1000.0)
            self.stage_walls += counters.pop("stage_walls")
            counters["gc_s"] = p.gc_s() - gc0
            counters["blocks_left"] = p.cached_blocks()
            self.spans.append(Span(name, start, end, self._op_span, op, counters))
            self.overhead_s += time.time() - end

    def self_s(self, i: int) -> float:
        """Self time of span ``i``: its duration minus its children's."""
        s = self.spans[i]
        return rules.self_time(s.start, s.end, [
            (c.start, c.end) for c in self.spans if c.parent == i])

    def layer_metrics(self, layers: tuple[str, ...], passes: int) -> dict[str, float]:
        """Per layer: its self time ``wall_s`` and each counter, summed
        over the layer's calls and divided by the number of passes, so
        every figure reads "per pass"."""
        out: dict[str, float] = {}
        for name in layers:
            idx = [i for i, s in enumerate(self.spans) if s.name == name]
            sums = {"wall_s": sum(self.self_s(i) for i in idx)}
            for s in (self.spans[i] for i in idx):
                for k, v in s.counters.items():
                    sums[k] = sums.get(k, 0) + v
            for k in LAYER_COUNTERS:
                out[f"{name}.{k}"] = sums.get(k, 0) / max(passes, 1)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def batch_listener(spark, sink: list) -> object:
    """Register a streaming listener that appends each micro-batch's
    duration in seconds to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Batches(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(event.progress.batchDuration / 1000.0)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Batches()
    spark.streams.addListener(listener)
    return listener


#: the counters reported for every layer
LAYER_COUNTERS = ("wall_s", "driver_s", "stages", "tasks", "shuffle_bytes",
                  "shuffle_records", "spill_bytes", "input_bytes", "gc_s",
                  "blocks_left")
