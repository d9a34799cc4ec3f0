"""Spans and counters recorded from outside the program.

Every wrapper lives here: the benchmark patches the program's public
functions at the names callers look them up by, so ``sparksync`` itself
carries no instrumentation.  Spans are kept in memory and written out
when the run ends.

Counters read over py4j (job and stage watermarks, stage metrics, block
storage) are made with py4j counting paused, so they never show up as
the program's own round trips.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import json
import os
import sys
import threading
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._sched = None
        self._store = None
        self._sc = None

    # -- py4j and Spark counters -------------------------------------------

    def count_py4j(self) -> None:
        """Count every command the Python side sends to the JVM."""
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        tracer = self

        @functools.wraps(orig)
        def send_command(conn, *a, **k):
            if not getattr(tracer._local, "paused", False):
                with tracer._lock:
                    tracer.py4j_calls += 1
            return orig(conn, *a, **k)

        ClientServerConnection.send_command = send_command

    @contextlib.contextmanager
    def paused(self):
        prev = getattr(self._local, "paused", False)
        self._local.paused = True
        try:
            yield
        finally:
            self._local.paused = prev

    def bind(self, spark) -> None:
        with self.paused():
            jsc = spark.sparkContext._jsc.sc()
            self._sc = jsc
            self._sched = jsc.dagScheduler()
            self._store = jsc.statusStore()

    def watermark(self) -> tuple[int, int]:
        """(next job id, next stage id): ids are handed out in order, so
        the jobs and stages of an interval are the ids between two marks."""
        if self._sched is None:
            return (0, 0)
        with self.paused():
            return (self._sched.nextJobId(), self._sched.nextStageId())

    def stage_metrics(self, first: int, end: int) -> dict:
        """Summed metrics of the stages that ran with ids in [first, end)."""
        out = dict(stages=0, tasks=0, run_ms=0, input_b=0, shuffle_read_b=0,
                   shuffle_write_b=0, spill_b=0)
        if self._store is None:
            return out
        from py4j.protocol import Py4JJavaError

        with self.paused():
            for sid in range(first, end):
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # an id the scheduler never submitted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["run_ms"] += sd.executorRunTime()
                out["input_b"] += sd.inputBytes()
                out["shuffle_read_b"] += sd.shuffleReadBytes()
                out["shuffle_write_b"] += sd.shuffleWriteBytes()
                out["spill_b"] += sd.diskBytesSpilled()
        return out

    def stored_bytes(self) -> int:
        """Bytes of cached or checkpointed blocks the context still holds."""
        if self._sc is None:
            return 0
        with self.paused():
            return sum(r.memSize() + r.diskSize() for r in self._sc.getRDDStorageInfo())

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "run": self.run_id,
            "thread": threading.get_ident(),
            **attrs,
        }
        jobs0, stages0 = self.watermark()
        py0 = self.py4j_calls
        rec["start"] = time.perf_counter()
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            jobs1, stages1 = self.watermark()
            rec.update(py4j=self.py4j_calls - py0, jobs=jobs1 - jobs0,
                       stage_ids=[stages0, stages1])
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **k):
            with tracer.span(name):
                return fn(*a, **k)

        return traced

    def patch_functions(self, targets: dict) -> None:
        """Replace each target function (object -> span name) at every
        module-level name in ``sparksync`` that refers to it, so calls
        through ``from x import f`` bindings are traced too."""
        wrappers = {id(fn): self.wrap(fn, name) for fn, name in targets.items()}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("sparksync"):
                continue
            for attr, val in list(vars(mod).items()):
                w = wrappers.get(id(val))
                if w is not None:
                    setattr(mod, attr, w)

    def patch_methods(self, cls, methods: dict) -> None:
        for meth, name in methods.items():
            setattr(cls, meth, self.wrap(getattr(cls, meth), name))

    def write(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "summary": summary, "spans": self.spans}, fh)


def public_functions(module) -> dict:
    """Public functions defined in ``module`` (not re-exported imports)."""
    short = module.__name__.replace("sparksync.", "")
    return {
        fn: f"{short}.{name}"
        for name, fn in vars(module).items()
        if inspect.isfunction(fn) and fn.__module__ == module.__name__
        and not name.startswith("_")
    }


def install(tracer: Tracer) -> None:
    """Wrap every layer boundary the per-layer metrics read."""
    import importlib
    import pkgutil

    from pyspark.sql.classic.dataframe import DataFrame

    import sparksync.compare
    import sparksync.ext
    import sparksync.source
    from sparksync.sink import ParquetSink, SqlScriptSink
    from sparksync.sync import SyncJob

    tracer.count_py4j()
    targets = {sparksync.source.load_table: "source.load_table"}
    for f in ("compare_checksum", "compare_counts", "table_checksum"):
        targets[getattr(sparksync.compare, f)] = f"compare.{f}"
    for info in pkgutil.iter_modules(sparksync.ext.__path__):
        targets.update(public_functions(importlib.import_module(f"sparksync.ext.{info.name}")))
    tracer.patch_functions(targets)
    tracer.patch_methods(SyncJob, {m: f"sync.{m}" for m in
                                   ("plan", "ddl_phase", "data_phase", "objects_phase",
                                    "compare_phase")})
    tracer.patch_methods(ParquetSink, {"write": "sink.write"})
    tracer.patch_methods(SqlScriptSink, {"execute": "ddl.execute"})
    tracer.patch_methods(DataFrame, {m: f"materialize.{m}" for m in
                                     ("localCheckpoint", "checkpoint", "persist", "cache")})


# -- aggregation -------------------------------------------------------------

def busy_s(spans: list[dict]) -> float:
    """Length of the union of the spans' intervals: time any was active."""
    total, cur_s, cur_e = 0.0, None, None
    for s in sorted(spans, key=lambda s: s["start"]):
        if cur_e is None or s["start"] > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s["start"], s["end"]
        else:
            cur_e = max(cur_e, s["end"])
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part its direct children cover."""
    by_parent: dict = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["end"] - s["start"]) - busy_s(by_parent.get(s["id"], []))
            for s in spans}


def self_jobs(spans: list[dict]) -> dict[int, int]:
    child_jobs: dict = {}
    for s in spans:
        child_jobs[s["parent"]] = child_jobs.get(s["parent"], 0) + s["jobs"]
    return {s["id"]: s["jobs"] - child_jobs.get(s["id"], 0) for s in spans}


def outermost(spans: list[dict], prefix: str) -> list[dict]:
    """Spans named ``prefix*`` that have no ancestor with the same prefix."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if not s["name"].startswith(prefix):
            continue
        p = by_id.get(s["parent"])
        while p is not None and not p["name"].startswith(prefix):
            p = by_id.get(p["parent"])
        if p is None:
            out.append(s)
    return out


# -- process counters ----------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def jvm_pid() -> int | None:
    """The Spark driver JVM: the java child of this process."""
    me = str(os.getpid())
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if stat.rsplit(")", 1)[1].split()[1] == me and b"java" in cmd:
            return int(pid)
    return None


def cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
