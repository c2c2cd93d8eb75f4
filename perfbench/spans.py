"""Outside-in tracer: spans around calls into the program's public
functions, and the Spark work each span launched.

A span records its layer, name, start, end, parent and request id. When
tracing is on, every span runs under its own Spark job group, so the
jobs it launches are read back from the status tracker and their stages
from the status store: tasks, executor run and CPU time, input records
and bytes, shuffle bytes. A stage is attributed to the first span whose
jobs ran it, so shuffle stages reused by a later span are not counted
twice. Spans stay in memory and are written out once, by ``dump``.

When tracing is off, ``span`` only yields: no job groups, no status
reads, so the timed run carries no tracing cost.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "run_ms",
    "cpu_ms",
    "input_bytes",
    "input_records",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
)


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    request: int | None
    phase: str
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    extra: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.phase = "setup"
        self.probes: list[dict] = []
        self._stack: list[Span] = []
        self._seen_stages: set[int] = set()
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()

    @contextmanager
    def span(self, layer: str, name: str = "", request: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            layer=layer,
            name=name or layer,
            parent=parent.id if parent else None,
            request=request if request is not None else (parent.request if parent else None),
            phase=self.phase,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"perfbench-{s.id}", f"{layer}:{s.name}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent.id}", f"{parent.layer}:{parent.name}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._collect(s)

    def _collect(self, s: Span) -> None:
        # the status store is fed asynchronously by the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        c = s.counters
        for jid in tracker.getJobIdsForGroup(f"perfbench-{s.id}"):
            c["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in self._seen_stages:
                    continue
                attempts = self._store.stageData(sid, False, None, False, None)
                ran = False
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    if st.numCompleteTasks() == 0:
                        continue
                    ran = True
                    c["tasks"] += st.numCompleteTasks()
                    c["run_ms"] += st.executorRunTime()
                    c["cpu_ms"] += st.executorCpuTime() / 1e6
                    c["input_bytes"] += st.inputBytes()
                    c["input_records"] += st.inputRecords()
                    c["shuffle_read_bytes"] += st.shuffleReadBytes()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                if ran:
                    self._seen_stages.add(sid)
                    c["stages"] += 1

    def probe_persisted(self, label: str) -> None:
        """Persist-leak probe: RDDs still persisted, and the storage they
        hold, at the moment an operation returns."""
        if not self.enabled:
            return
        jsc = self.sc._jsc
        stored = 0
        for info in jsc.sc().getRDDStorageInfo():
            stored += info.memSize() + info.diskSize()
        self.probes.append(
            {
                "label": label,
                "phase": self.phase,
                "rdds": jsc.getPersistentRDDs().size(),
                "bytes": stored,
            }
        )

    def timed(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.phase == "timed" and s.layer == layer]

    def inclusive(self, s: Span) -> dict[str, float]:
        """A span's counters plus those of every span nested inside it."""
        total = dict(s.counters)
        for child in self.spans:
            if child.parent == s.id:
                for k, v in self.inclusive(child).items():
                    total[k] += v
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "seconds": s.seconds}) + "\n")
            for p in self.probes:
                fh.write(json.dumps({"probe": p}) + "\n")
