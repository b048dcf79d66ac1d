"""Spans and per-layer counters for the traced benchmark run.

Nothing here touches the program's files: ``Tracer.wrap_pipeline``
replaces the public functions the pipeline calls (feed builders,
namespacing, upsert, enrichment, sink formatting and assembly) with
wrappers, and the catalog driver opens spans itself.

Each span records name, start, end and parent, and sets a Spark job group
for its extent, so the jobs it triggers can be read back from Spark's
status store: jobs, tasks, failed tasks, executor run time, JVM GC time
and shuffle bytes. In the traced run each wrapper also materialises the
layer's output (``localCheckpoint``) inside an ``.exec`` child span, so a
layer's execution time lands in its own span instead of in whichever
later action first needed it. A span's self time is its duration minus
the part of it covered by its children.

py4j round trips are counted by wrapping py4j's client send path and
charged to the innermost open span of the calling thread.
"""

from __future__ import annotations

import contextlib
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

GROUP_PREFIX = "vulnbench-span-"
AUX_GROUP = "vulnbench-aux"

@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float  # perf_counter seconds
    end: float | None = None
    wall_start_ms: float = 0.0
    wall_end_ms: float = 0.0
    counts: dict[str, float] = field(default_factory=lambda: defaultdict(float))

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else time.perf_counter()) - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover.
    Children may overlap each other (threads), so their union counts."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None and s.end is not None:
            kids[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        if s.end is None:
            continue
        inside = [(max(a, s.start), min(b, s.end)) for a, b in kids[s.sid]]
        out[s.sid] = s.duration - covered([(a, b) for a, b in inside if b > a])
    return out


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.rows: dict[str, float] = defaultdict(float)
        self._tls = threading.local()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()
        self._seen_stages: set[int] = set()
        self._seen_jobs: set[int] = set()

    # -- span stack ---------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            if threading.current_thread() is threading.main_thread():
                st = self._main_stack
            else:
                # a pool thread starts inside whatever the main thread has open
                st = list(self._main_stack[-1:])
            self._tls.stack = st
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    @contextlib.contextmanager
    def paused(self):
        """Suspend py4j counting for the tracer's own JVM calls."""
        prev = getattr(self._tls, "paused", False)
        self._tls.paused = True
        try:
            yield
        finally:
            self._tls.paused = prev

    def _set_group(self, group: str | None) -> None:
        with self.paused():
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sp = Span(len(self.spans), name, parent.sid if parent else None, 0.0)
            self.spans.append(sp)
        self._set_group(f"{GROUP_PREFIX}{sp.sid}")
        stack.append(sp)
        sp.wall_start_ms = time.time() * 1000
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.wall_end_ms = time.time() * 1000
            stack.pop()
            self._set_group(f"{GROUP_PREFIX}{parent.sid}" if parent else None)
            self._charge_group(sp)

    # -- Spark status store --------------------------------------------------

    def _charge_job(self, sp: Span, job_id: int, store) -> None:
        if job_id in self._seen_jobs:
            return
        self._seen_jobs.add(job_id)
        job = store.job(job_id)
        sp.counts["jobs"] += 1
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            sid = stage_ids.apply(i)
            if sid in self._seen_stages:
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            self._seen_stages.add(sid)
            sp.counts["tasks"] += st.numTasks()
            sp.counts["failed_tasks"] += st.numFailedTasks()
            sp.counts["executor_run_ms"] += st.executorRunTime()
            sp.counts["gc_ms"] += st.jvmGcTime()
            sp.counts["shuffle_write_bytes"] += st.shuffleWriteBytes()
            sp.counts["shuffle_read_bytes"] += st.shuffleReadBytes()

    def _charge_group(self, sp: Span) -> None:
        with self.paused(), self._lock:
            store = self.sc._jsc.sc().statusStore()
            for jid in self.sc.statusTracker().getJobIdsForGroup(f"{GROUP_PREFIX}{sp.sid}"):
                self._charge_job(sp, jid, store)

    def charge_orphans(self) -> None:
        """Jobs submitted from threads the wrappers never saw (e.g. the
        sink's drain pool) carry no job group: charge each to the
        innermost span open at its submission time."""
        with self.paused(), self._lock:
            store = self.sc._jsc.sc().statusStore()
            for jid in self.sc.statusTracker().getJobIdsForGroup(None):
                if jid in self._seen_jobs:
                    continue
                sub = store.job(jid).submissionTime()
                if sub.isEmpty():
                    continue
                t = sub.get().getTime()
                inner = [
                    s for s in self.spans
                    if s.end is not None and s.wall_start_ms <= t <= s.wall_end_ms
                ]
                if inner:
                    self._charge_job(max(inner, key=lambda s: s.wall_start_ms), jid, store)

    def count_rows(self, df) -> int:
        """Row count of an already materialised frame, outside any span's
        counters."""
        with self.paused():
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", AUX_GROUP)
            try:
                return df.count()
            finally:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    # -- wrappers ------------------------------------------------------------

    def materialise(self, name: str, df):
        with self.span(f"{name}.exec"):
            return df.localCheckpoint(eager=True)

    @staticmethod
    def _patch(owner, attr: str, wrapper) -> None:
        """Replace ``owner.attr`` (or ``owner[attr]``) for the rest of the
        process; a traced run exits after its passes."""
        if isinstance(owner, dict):
            owner[attr] = wrapper(owner[attr])
        else:
            setattr(owner, attr, wrapper(getattr(owner, attr)))

    def _layer_fn(self, name: str, rows_key: str | None = None, rows_in: bool = False):
        def wrap(fn):
            def traced(*args, **kwargs):
                with self.span(name):
                    if rows_in:
                        self.rows[f"{name}.rows_in"] += self.count_rows(args[0])
                    out = self.materialise(name, fn(*args, **kwargs))
                    if rows_key:
                        self.rows[rows_key] += self.count_rows(out)
                    return out

            return traced

        return wrap

    def count_py4j(self) -> None:
        """Charge every py4j round trip to the calling thread's open span."""
        import py4j.clientserver as cs

        tracer = self

        def count_py4j(send):
            def counted(conn, command):
                if not getattr(tracer._tls, "paused", False):
                    sp = tracer.current()
                    if sp is not None:
                        # the sink's two drain threads share a parent span
                        with tracer._lock:
                            sp.counts["py4j_calls"] += 1
                return send(conn, command)

            return counted

        self._patch(cs.ClientServerConnection, "send_command", count_py4j)

    def wrap_pipeline(self) -> None:
        """Wrap the dbgen pipeline's public layer functions."""
        from vul_dbgen_spark import sources
        from vul_dbgen_spark.plans import enrich, pipeline
        from vul_dbgen_spark.sinks import memdb

        for registry in (sources.DISTRO_SOURCES, sources.APP_SOURCES, sources.META_SOURCES):
            for feed in list(registry):
                self._patch(registry, feed, self._layer_fn(f"sources.{feed}", "sources.rows_out"))
        self._patch(pipeline, "load_all_apps", self._layer_fn("sources.apps"))
        self._patch(
            pipeline,
            "do_vulnerabilities_namespacing",
            self._layer_fn("plans.namespacing", "plans.namespacing.rows_out"),
        )
        self._patch(
            pipeline, "os_keyed_upsert",
            self._layer_fn("plans.upsert", "plans.upsert.rows_out", rows_in=True),
        )
        for fn in ("inject_nvd_whitelist_apps", "correct_app_affected_version"):
            self._patch(enrich, fn, self._layer_fn(f"enrich.{fn}"))
        for fn in ("build_distro_meta", "build_app_meta"):
            self._patch(enrich, fn, self._meta_fn(f"enrich.{fn}"))
        for fn in ("assign_distro_metadata", "assign_app_metadata"):
            self._patch(
                enrich, fn, self._layer_fn(f"enrich.{fn}", "enrich.gate.rows_out", rows_in=True)
            )
        for fn in ("os_vuln_lines", "app_vuln_lines"):
            self._patch(memdb, fn, self._layer_fn(f"sinks.{fn}"))
        self._patch(memdb, "update_db", self._plain_fn("sinks.update_db"))
        self._patch(memdb, "read_db_file", self._plain_fn("sinks.read_db_file"))
        self._patch(pipeline, "run", self._plain_fn("plans.pipeline"))

    def _plain_fn(self, name: str):
        def wrap(fn):
            def traced(*args, **kwargs):
                with self.span(name):
                    return fn(*args, **kwargs)

            return traced

        return wrap

    def _meta_fn(self, name: str):
        """Enrichment metadata builders: also count the keys that found an
        NVD record (``m_link`` is filled only from NVD)."""
        from pyspark.sql import functions as F

        def wrap(fn):
            def traced(*args, **kwargs):
                with self.span(name):
                    out = self.materialise(name, fn(*args, **kwargs))
                    self.rows["enrich.meta.rows"] += self.count_rows(out)
                    if "m_link" in out.columns:
                        hits = out.filter(F.col("m_link").isNotNull())
                        self.rows["enrich.meta.nvd_hits"] += self.count_rows(hits)
                    return out

            return traced

        return wrap
