"""Benchmark-side tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files by wrapping the
program's public entry points (``Tracer.install``); the program itself
is not modified. Each span has a name, layer, start, end, parent and
request id, and lives in memory until the run writes it out.

Spark work is read from the driver's status store (no UI needed) once,
when the run ends. Each job goes to the innermost span whose time
window holds the job's submission time. Job groups would not do: the
store writers submit from driver pool threads, which do not inherit
the thread-local group.

The job list is cross-checked against the run's whole job count, and
``Tracer.check_fired`` fails the run when a wrapper a workload must
exercise never fired.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# layers whose spans only wrap another layer's work (a memo lookup
# wraps the build it may run), so they never own self time
TRANSPARENT = {"memo"}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: int | None
    req: str | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.fired: Counter = Counter()
        self.own_s = 0.0  # time spent in the tracer's own bookkeeping
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str, req: str | None = None):
        t_in = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else None
        sp = Span(
            id=next(self._ids), name=name, layer=layer, start=0.0,
            parent=parent.id if parent else None,
            req=req if req is not None else (parent.req if parent else None),
        )
        st.append(sp)
        with self._lock:
            self.spans.append(sp)
            self.fired[name] += 1
            self.own_s += time.perf_counter() - t_in
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            t_out = time.perf_counter()
            st.pop()
            with self._lock:
                self.own_s += time.perf_counter() - t_out

    # -- wrappers ------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, layer: str, after=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper. ``after(span,
        result)`` runs once the span has closed; its cost counts as
        tracer overhead, not as the layer's time."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name, layer) as sp:
                out = orig(*args, **kwargs)
            if after is not None:
                t0 = time.perf_counter()
                after(sp, out)
                with self._lock:
                    self.own_s += time.perf_counter() - t0
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def wrap_memo(self, lru_cls) -> None:
        """``LRU.get_or_build`` with a hit flag: a hit never calls build."""
        orig = lru_cls.get_or_build
        tracer = self

        @functools.wraps(orig)
        def traced(self_, key, build):
            built = []

            def b():
                built.append(True)
                return build()

            with tracer.span("memo.get_or_build", "memo") as sp:
                out = orig(self_, key, b)
                sp.attrs["hit"] = not built
            return out

        self._patches.append((lru_cls, "get_or_build", orig))
        lru_cls.get_or_build = traced

    def install(self) -> None:
        """Wrap every public entry point the benchmark traces."""
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

        from lighthouse_spark.api import autocomplete, engine, service
        from lighthouse_spark.functions import memo
        from lighthouse_spark.operators import expand, wand
        from lighthouse_spark.sources import store, sync

        def plan_nodes(sp, df):
            qe = df._jdf.queryExecution().analyzed()
            sp.attrs["nodes"] = len(qe.treeString().splitlines())

        self.wrap(service.SearchService, "search", "service.search", "service")
        self.wrap(service.SearchService, "autocomplete", "service.autocomplete", "service")
        self.wrap(expand, "fuzzy_and_df", "expand.fuzzy_and_df", "dict")
        self.wrap(expand, "expand_prefix_with_df_fields",
                  "expand.expand_prefix_with_df_fields", "dict")
        self.wrap(store.CompressedIndex, "flat_view_terms", "store.flat_view_terms", "flat_view")
        self.wrap(engine.SearchEngine, "search", "engine.search", "plan", after=plan_nodes)
        self.wrap(autocomplete, "autocomplete", "autocomplete.autocomplete", "plan",
                  after=plan_nodes)
        # PySpark 4 runs the classic subclass's collect, not the base
        # class's: patching pyspark.sql.DataFrame.collect records nothing
        self.wrap(ClassicDataFrame, "collect", "collect", "exec")
        self.wrap_memo(memo.LRU)
        self.wrap(wand, "wand_topk", "wand.wand_topk", "wand")
        self.wrap(store, "build_and_save", "store.build_and_save", "build")
        self.wrap(sync, "sync", "sync.sync", "sync")
        self.wrap(sync, "apply_incremental", "sync.apply_incremental", "sync")
        self.wrap(sync, "compact", "sync.compact", "compact")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def check_fired(self, required: list[str]) -> None:
        missing = [n for n in required if not self.fired[n]]
        if missing:
            raise RuntimeError(
                f"traced run: wrappers never fired: {missing}; the trace would "
                "silently report zero for their layers"
            )

    # -- Spark status store -------------------------------------------
    def attribute_jobs(self) -> tuple[dict[int, list[dict]], list[dict], list[dict]]:
        """(span id -> its own jobs, unattributed jobs, all jobs)."""
        jobs = read_jobs(self.sc)
        ids = sorted(j["id"] for j in jobs)
        if ids != list(range(len(ids))):
            raise RuntimeError(
                f"status store holds {len(ids)} jobs but the run submitted "
                f"{ids[-1] + 1 if ids else 0}; raise spark.ui.retainedJobs"
            )
        windowed = sorted(self.spans, key=lambda s: s.start)
        own: dict[int, list[dict]] = defaultdict(list)
        loose: list[dict] = []
        for j in jobs:
            t = j["submitted"]
            inner = None
            for s in windowed:
                if s.start > t:
                    break
                if t <= s.end:
                    inner = s  # later start = more deeply nested
            if inner is None:
                loose.append(j)
            else:
                own[inner.id].append(j)
        return own, loose, jobs


def read_jobs(sc) -> list[dict]:
    """Every job in the driver's status store with its stages' totals.
    A stage shared by several jobs is counted for the first only;
    skipped stages have no attempt and count nothing."""
    from py4j.protocol import Py4JJavaError

    ss = sc._jsc.sc().statusStore()
    out = []
    seen: set[int] = set()
    it = ss.jobsList(None).iterator()
    raw = []
    while it.hasNext():
        raw.append(it.next())
    for jd in sorted(raw, key=lambda x: x.jobId()):
        sub = jd.submissionTime()
        j = {
            "id": int(jd.jobId()),
            "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
            "stages": 0, "shuffle_read": 0, "shuffle_write": 0,
            "input": 0, "output": 0, "cpu_s": 0.0,
        }
        sids = jd.stageIds().iterator()
        while sids.hasNext():
            sid = int(sids.next())
            if sid in seen:
                continue
            try:
                st = ss.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt recorded
                continue
            seen.add(sid)
            j["stages"] += 1
            j["shuffle_read"] += int(st.shuffleReadBytes())
            j["shuffle_write"] += int(st.shuffleWriteBytes())
            j["input"] += int(st.inputBytes())
            j["output"] += int(st.outputBytes())
            j["cpu_s"] += int(st.executorCpuTime()) / 1e9
        out.append(j)
    return out


# -- span arithmetic -----------------------------------------------------
class SpanTree:
    def __init__(self, spans: list[Span], own_jobs: dict[int, list[dict]]):
        self.spans = spans
        self.own_jobs = own_jobs
        self.children: dict[int | None, list[Span]] = defaultdict(list)
        for s in spans:
            self.children[s.parent].append(s)

    def descendants(self, sp: Span):
        for c in self.children[sp.id]:
            yield c
            yield from self.descendants(c)

    def _opaque_children(self, sp: Span):
        for c in self.children[sp.id]:
            if c.layer in TRANSPARENT:
                yield from self._opaque_children(c)
            else:
                yield c

    def self_time(self, sp: Span) -> float:
        covered = _union_length([(c.start, c.end) for c in self._opaque_children(sp)],
                                sp.start, sp.end)
        return (sp.end - sp.start) - covered

    def jobs(self, sp: Span) -> list[dict]:
        """Jobs of ``sp`` and of every span under it."""
        js = list(self.own_jobs.get(sp.id, []))
        for d in self.descendants(sp):
            js.extend(self.own_jobs.get(d.id, []))
        return js

    def outermost(self, root: Span, layer: str):
        """Spans of ``layer`` under ``root`` not nested in another of
        the same layer."""
        for c in self.children[root.id]:
            if c.layer == layer:
                yield c
            else:
                yield from self.outermost(c, layer)

    def under(self, root: Span, layer: str, not_inside: str | None = None):
        """Spans of ``layer`` under ``root``, skipping subtrees of
        ``not_inside`` spans (e.g. collects issued by a dictionary
        lookup are dictionary work, not execution)."""
        for c in self.children[root.id]:
            if not_inside and c.layer == not_inside:
                continue
            if c.layer == layer:
                yield c
            yield from self.under(c, layer, not_inside)

    def self_seconds_by_name(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.layer not in TRANSPARENT:
                out[s.name] += self.self_time(s)
        return dict(out)


def _union_length(iv: list[tuple[float, float]], lo: float, hi: float) -> float:
    tot, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in iv):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                tot += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        tot += cur_e - cur_s
    return tot


def job_sum(jobs: list[dict], key: str) -> float:
    return sum(j[key] for j in jobs)
