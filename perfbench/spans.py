"""Spans around the calls the benchmark makes into the engine's layers.

A :class:`Tracer` wraps the package's public layer functions
(``session.get_spark``, ``catalog.load_table``, ``dialect.transpile``,
``dialect.catalog_resolver`` and the resolver it returns,
``compat.register_clickhouse_compat``, and the model materializations
of ``plans.models``) while it is installed, and records one span per
call: name, start, end, parent span and op id.  The materializations
are ``ModelRunner``'s private ``_materialize_table`` and
``_materialize_incremental``, the only place a model's write can be
timed from outside; only traced runs touch them.  Catalyst phases and
Spark jobs are added afterwards as spans with the JVM's own start and
end times, each under the innermost span that covers it.  Spans stay
in memory; the caller writes them out at exit.

Nothing is patched unless :meth:`Tracer.install` was called, so an
untraced run executes the package's functions unchanged.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import os
import resource
import sys
import time


@dataclasses.dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        self.counts: dict[str, int] = {}

    # -- recording ------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.time(), 0.0, parent, self.op)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        self.spans.append(Span(len(self.spans), name, start, end, parent, self.op))

    def add_within(self, name: str, start: float, end: float, root: int) -> None:
        """Add a span measured elsewhere as a child of the innermost span
        of ``root``'s op that covers it, so self times do not count it
        twice.  The JVM's times are whole milliseconds, hence the slack."""
        parent = root
        for s in self.spans[root + 1:]:
            if (s.op == self.op and s.start - 0.002 <= start and end <= s.end + 0.002
                    and s.start >= self.spans[parent].start):
                parent = s.id
        self.add(name, start, end, parent)

    def count(self, name: str, n: int = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    # -- patching -------------------------------------------------------

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.count(name)
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _patch_everywhere(self, fn, wrapper) -> None:
        """Replace ``fn`` in every engine module that bound it by name
        (``from x import fn`` copies the reference)."""
        for mod in list(sys.modules.values()):
            modname = getattr(mod, "__name__", "") or ""
            if not modname.startswith("clickhouse_vs_dbt_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._set(mod, attr, wrapper)

    def install(self) -> None:
        from clickhouse_vs_dbt_spark import catalog, compat, dialect, session
        from clickhouse_vs_dbt_spark.plans import models

        for fn, name in (
            (session.get_spark, "session"),
            (catalog.load_table, "catalog"),
            (dialect.transpile, "dialect.transpile"),
            (compat.register_clickhouse_compat, "compat"),
        ):
            self._patch_everywhere(fn, self._wrap(fn, name))

        # the resolver's probes are the calls of the callable it returns
        factory = dialect.catalog_resolver
        self._patch_everywhere(factory, functools.wraps(factory)(
            lambda spark: self._wrap(factory(spark), "dialect.resolver")
        ))

        def materialize(method):
            @functools.wraps(method)
            def wrapper(runner, model, *args, **kwargs):
                with self.span(f"models.{model.name}"):
                    return method(runner, model, *args, **kwargs)

            return wrapper

        for attr in ("_materialize_table", "_materialize_incremental"):
            self._set(
                models.ModelRunner, attr,
                materialize(getattr(models.ModelRunner, attr)),
            )

    def model_hook(self, name: str, build):
        """A dbt project's builder hook: spans model ``name``'s builder."""
        with self.span(f"models.{name}"):
            return build()

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    # -- Spark-side spans -----------------------------------------------

    def add_catalyst(self, df, parent: int) -> None:
        """Catalyst phases of ``df``'s query execution as child spans."""
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            got = phases.get(phase)
            if got.isDefined():
                p = got.get()
                self.add_within(
                    f"catalyst.{phase}",
                    p.startTimeMs() / 1e3, p.endTimeMs() / 1e3, parent,
                )

    def add_jobs(self, spark, group: str, parent: int) -> None:
        """Spark jobs run under job group ``group`` as child spans, with
        their stage, task, shuffle and spill counts."""
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                self.add_within(
                    "exec", sub.get().getTime() / 1e3,
                    done.get().getTime() / 1e3, parent,
                )
            self.count("exec.jobs")
            stages = job.stageIds()
            for i in range(stages.size()):
                try:
                    st = store.lastStageAttempt(stages.apply(i))
                except Exception:  # skipped stage: never attempted
                    continue
                self.count("exec.stages")
                self.count("exec.tasks", st.numTasks())
                self.count("exec.shuffle_bytes", st.shuffleWriteBytes())
                self.count(
                    "exec.spill_bytes",
                    st.memoryBytesSpilled() + st.diskBytesSpilled(),
                )

    # -- attribution ----------------------------------------------------

    def self_times(self, spans: list[Span] | None = None) -> dict[str, float]:
        """Seconds per span name, minus the part of each span that its
        child spans cover."""
        spans = self.spans if spans is None else spans
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in spans:
            covered = _union(
                [(max(c.start, s.start), min(c.end, s.end))
                 for c in children.get(s.id, ())]
            )
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- process and host counters ------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def proc_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def driver_cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


def driver_hwm_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def host_steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def jvm_counters(spark) -> dict[str, float]:
    """Cumulative JVM GC and JIT-compilation seconds."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {
        "gc_s": gc_ms / 1e3,
        "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
    }
