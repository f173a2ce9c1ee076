"""In-memory span recorder for the traced run.

Spans are recorded from the benchmark's own files: ``Tracer.patch``
replaces a layer's public function or method with a timing wrapper for
the length of the run and ``restore`` puts the original back. Nothing in
the program changes.

A span keeps name, start, end, parent and the range of Spark job ids
submitted while it was open (read synchronously from the DAG
scheduler's job counter). Stage metrics are looked up in Spark's status
store only after the timed region (``resolve``), so the run itself pays
for two counter reads per span, not for status-store queries.
"""

from __future__ import annotations

import functools
import json
import threading
import time

STAGE_FIELDS = {
    # span counter -> StageData accessor (py4j); cpu time is in ns
    "tasks": "numCompleteTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ms": "executorCpuTime",
    "jvm_gc_ms": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "output_bytes": "outputBytes",
    "output_records": "outputRecords",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


class Tracer:
    def __init__(self, spark=None):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._jsc = spark.sparkContext._jsc.sc() if spark is not None else None
        self.block_bytes_peak = 0
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _next_job(self) -> int | None:
        if self._jsc is None:
            return None
        return int(self._jsc.dagScheduler().nextJobId())

    def current(self) -> dict | None:
        st = self._stack()
        return st[-1] if st else None

    def begin(self, name: str, **attrs) -> dict:
        t0 = time.perf_counter()
        st = self._stack()
        with self._lock:
            sp = {
                "id": len(self.spans),
                "name": name,
                "parent": st[-1]["id"] if st else None,
                "job_lo": self._next_job(),
                **attrs,
            }
            self.spans.append(sp)
        st.append(sp)
        sp["start"] = time.perf_counter()
        self.bookkeeping_s += sp["start"] - t0
        return sp

    def end(self, sp: dict, sample_storage: bool = False, **attrs) -> None:
        sp["end"] = time.perf_counter()
        sp["job_hi"] = self._next_job()
        sp.update(attrs)
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        if sample_storage and self._jsc is not None:
            self.sample_storage()
        self.bookkeeping_s += time.perf_counter() - sp["end"]

    def sample_storage(self) -> None:
        """Peak bytes held by the block managers (persisted and
        checkpointed blocks, broadcasts): max - remaining storage memory."""
        status = self._jsc.getExecutorMemoryStatus()
        it = status.valuesIterator()
        used = 0
        while it.hasNext():
            pair = it.next()
            used += pair._1() - pair._2()
        self.block_bytes_peak = max(self.block_bytes_peak, used)

    # -- patching ------------------------------------------------------------
    def wrap(self, fn, name: str, sample_storage: bool = False):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(sp, sample_storage=sample_storage)

        return traced

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` for the run; ``restore`` undoes it. On a class
        the raw attribute is saved, so a ``classmethod`` comes back as one."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, replacement)

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # -- after the timed region ---------------------------------------------
    def resolve(self) -> None:
        """Attach Spark counters to every span: jobs, stages that ran, and
        the stage metrics in ``STAGE_FIELDS``. A stage counts for the
        first job that lists it, the one that ran it."""
        if self._jsc is None:
            return
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        his = [s["job_hi"] for s in self.spans if s.get("job_hi") is not None]
        los = [s["job_lo"] for s in self.spans if s.get("job_lo") is not None]
        if not his:
            return
        first_job: dict[int, int] = {}
        job_stages: dict[int, list[int]] = {}
        for jid in range(min(los), max(his)):
            try:
                job = store.job(jid)
            except Exception:  # py4j error: job evicted or never registered
                continue
            ids = job.stageIds()
            job_stages[jid] = [ids.apply(i) for i in range(ids.size())]
            for sid in job_stages[jid]:
                first_job.setdefault(sid, jid)
        stage_metrics: dict[int, dict] = {}
        for sid, jid in first_job.items():
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage evicted
                continue
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused, it did not run
            m = {k: int(getattr(sd, acc)()) for k, acc in STAGE_FIELDS.items()}
            m["executor_cpu_ms"] //= 1_000_000
            stage_metrics[sid] = m
        for sp in self.spans:
            lo, hi = sp.get("job_lo"), sp.get("job_hi")
            if lo is None or hi is None:
                continue
            sp["jobs"] = sum(1 for j in range(lo, hi) if j in job_stages)
            ran = [m for sid, m in stage_metrics.items() if lo <= first_job[sid] < hi]
            sp["stages"] = len(ran)
            for k in STAGE_FIELDS:
                sp[k] = sum(m[k] for m in ran)

    def spark_metrics(self, spans: list[dict]) -> dict:
        """The per-layer Spark executor metrics summed over ``spans`` (after
        ``resolve``), plus the block-storage peak of the whole run."""

        def total(k: str) -> int:
            return sum(s.get(k, 0) for s in spans)

        return {
            "spark.tasks": (total("tasks"), "count"),
            "spark.executor_run_ms": (total("executor_run_ms"), "ms"),
            "spark.executor_cpu_ms": (total("executor_cpu_ms"), "ms"),
            "spark.jvm_gc_ms": (total("jvm_gc_ms"), "ms"),
            "spark.shuffle_read_bytes": (total("shuffle_read_bytes"), "bytes"),
            "spark.shuffle_write_bytes": (total("shuffle_write_bytes"), "bytes"),
            "spark.output_bytes": (total("output_bytes"), "bytes"),
            "spark.spill_bytes": (total("memory_spill_bytes") + total("disk_spill_bytes"), "bytes"),
            "storage.block_bytes_peak": (self.block_bytes_peak, "bytes"),
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]
