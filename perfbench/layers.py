"""Per-layer metrics of the traced run, computed from the spans and the
jobs attributed to them. Every workload reports every metric; a layer
the workload does not exercise reads 0.

Per-request metrics average over the timed loop's requests (one
``request`` span per cold /search or /autocomplete), per-cycle metrics
over its sync cycles, and the ``warm``/``wand`` metrics over the warm
phases that follow the loop. Set-up and warm-up work is excluded.
"""

from __future__ import annotations

from perfbench.harness import median
from perfbench.trace import SpanTree, job_sum

# name -> unit, in report order
UNITS = {
    "setup.session_s": "s", "setup.generate_s": "s", "setup.build_s": "s",
    "store.build_jobs": "count", "store.build_shuffle_write_bytes": "B",
    "store.build_shuffle_read_bytes": "B", "store.build_task_cpu_s": "s",
    "store.build_core_busy_ratio": "ratio", "store.bytes_on_disk": "B",
    "sync.cycle_jobs": "count", "sync.cycle_shuffle_bytes": "B",
    "sync.cycle_task_cpu_s": "s", "sync.cycle_bytes_written": "B",
    "sync.pending_deltas": "count", "compact.s": "s", "compact.jobs": "count",
    "compact.shuffle_bytes": "B", "compact.bytes_rewritten": "B",
    "service.cache_hit_ratio": "ratio", "service.search_p50_s": "s",
    "service.autocomplete_p50_s": "s",
    "service.warm_search_p50_s": "s", "service.warm_autocomplete_p50_s": "s",
    "memo.hit_ratio": "ratio", "memo.builds": "count", "memo.warm_hit_ratio": "ratio",
    "dict.calls_per_request": "count", "dict.s_per_request": "s",
    "dict.jobs_per_request": "count", "store.flat_view_s_per_request": "s",
    "plan.s_per_request": "s", "plan.nodes_per_request": "count",
    "exec.s_per_request": "s", "exec.jobs_per_request": "count",
    "exec.stages_per_request": "count", "exec.shuffle_bytes_per_request": "B",
    "exec.input_bytes_per_request": "B", "exec.task_cpu_s_per_request": "s",
    "wand.p50_s": "s", "wand.exec_s_per_query": "s", "wand.jobs_per_query": "count",
    "wand.input_bytes_per_query": "B",
    "trace.overhead_ratio": "ratio", "trace.jobs": "count",
    "trace.unattributed_jobs": "count", "cpu_probe_s": "s", "cpu_probe_end_s": "s",
    "peak_rss_mb": "MB",  # filled in by run.py once the JVM has exited
}


def _dur(s) -> float:
    return s.end - s.start


def compute(tracer, ctx, res: dict, session_s: float, probes: tuple[float, float],
            nproc: int) -> tuple[dict[str, float], dict]:
    """(metrics, artifact detail)."""
    own, loose, jobs = tracer.attribute_jobs()
    tree = SpanTree(tracer.spans, own)
    m = {k: 0.0 for k in UNITS}
    spans = tracer.spans
    cycles_and_reqs = [s for s in spans if s.name == "request"]
    # timed serving requests: the ones that reached /search or /autocomplete
    reqs = [r for r in cycles_and_reqs
            if any(d.layer == "service" for d in tree.children[r.id])]
    n_req = max(1, len(reqs))

    m["setup.session_s"] = session_s
    m["setup.generate_s"] = ctx.setup.get("generate_s", 0.0)
    m["setup.build_s"] = ctx.setup.get("build_s", 0.0)

    # store build: the workload's main (non-warm-up) build
    builds = [c for s in spans if s.name == "main_build"
              for c in tree.children[s.id] if c.name == "store.build_and_save"]
    if builds:
        b = builds[0]
        bj = tree.jobs(b)
        m["store.build_jobs"] = len(bj)
        m["store.build_shuffle_write_bytes"] = job_sum(bj, "shuffle_write")
        m["store.build_shuffle_read_bytes"] = job_sum(bj, "shuffle_read")
        m["store.build_task_cpu_s"] = job_sum(bj, "cpu_s")
        m["store.build_core_busy_ratio"] = job_sum(bj, "cpu_s") / (_dur(b) * nproc)
    m["store.bytes_on_disk"] = res.get("store_bytes", 0)

    # sync cycles and compaction
    cycles = [c for r in cycles_and_reqs for c in tree.outermost(r, "sync")
              if c.name == "sync.sync"]
    if cycles:
        cj = [tree.jobs(c) for c in cycles]
        m["sync.cycle_jobs"] = sum(map(len, cj)) / len(cycles)
        m["sync.cycle_shuffle_bytes"] = sum(
            job_sum(j, "shuffle_read") + job_sum(j, "shuffle_write") for j in cj) / len(cycles)
        m["sync.cycle_task_cpu_s"] = sum(job_sum(j, "cpu_s") for j in cj) / len(cycles)
        m["sync.cycle_bytes_written"] = sum(job_sum(j, "output") for j in cj) / len(cycles)
        m["sync.pending_deltas"] = res.get("pending_deltas", 0)
    compacts = [c for s in spans if s.name == "main_compact"
                for c in tree.children[s.id] if c.name == "sync.compact"]
    if compacts:
        cj = tree.jobs(compacts[0])
        m["compact.s"] = _dur(compacts[0])
        m["compact.jobs"] = len(cj)
        m["compact.shuffle_bytes"] = job_sum(cj, "shuffle_read") + job_sum(cj, "shuffle_write")
        m["compact.bytes_rewritten"] = job_sum(cj, "output")

    # serving
    hits, misses = res.get("cache_hits", 0), res.get("cache_misses", 0)
    m["service.cache_hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
    for kind in ("search", "autocomplete", "warm_search", "warm_autocomplete"):
        lat = ctx.ledger.latencies((kind,))
        m[f"service.{kind}_p50_s"] = median(lat) if lat else 0.0
    lat = ctx.ledger.latencies(("bm25",))
    m["wand.p50_s"] = median(lat) if lat else 0.0
    warm = [s for s in spans if s.name in ("warm_request", "bm25_request")]
    for key, roots in (("memo.hit_ratio", reqs), ("memo.warm_hit_ratio", warm)):
        memos = [c for r in roots for c in tree.descendants(r) if c.layer == "memo"]
        if memos:
            m[key] = sum(bool(c.attrs.get("hit")) for c in memos) / len(memos)
        if key == "memo.hit_ratio":
            m["memo.builds"] = sum(not c.attrs.get("hit") for c in memos)

    dicts = [d for r in reqs for d in tree.outermost(r, "dict")]
    m["dict.calls_per_request"] = len(dicts) / n_req
    m["dict.s_per_request"] = sum(map(_dur, dicts)) / n_req
    m["dict.jobs_per_request"] = sum(len(tree.jobs(d)) for d in dicts) / n_req
    views = [v for r in reqs for v in tree.outermost(r, "flat_view")]
    m["store.flat_view_s_per_request"] = sum(map(_dur, views)) / n_req
    plans = [p for r in reqs for p in tree.under(r, "plan")]
    m["plan.s_per_request"] = sum(tree.self_time(p) for p in plans) / n_req
    m["plan.nodes_per_request"] = sum(
        p.attrs.get("nodes", 0) for r in reqs for p in tree.outermost(r, "plan")) / n_req

    # execution: collects of the request that a dictionary lookup did not issue
    execs = [c for r in reqs for c in tree.under(r, "exec", not_inside="dict")]
    ej = [j for c in execs for j in tree.jobs(c)]
    m["exec.s_per_request"] = sum(map(_dur, execs)) / n_req
    m["exec.jobs_per_request"] = len(ej) / n_req
    m["exec.stages_per_request"] = job_sum(ej, "stages") / n_req
    m["exec.shuffle_bytes_per_request"] = (
        job_sum(ej, "shuffle_read") + job_sum(ej, "shuffle_write")) / n_req
    m["exec.input_bytes_per_request"] = job_sum(ej, "input") / n_req
    m["exec.task_cpu_s_per_request"] = job_sum(ej, "cpu_s") / n_req

    wand_reqs = [s for s in spans if s.name == "bm25_request"]
    if wand_reqs:
        wx = [c for r in wand_reqs for c in tree.under(r, "exec")]
        wj = [j for c in wx for j in tree.jobs(c)]
        m["wand.exec_s_per_query"] = sum(map(_dur, wx)) / len(wand_reqs)
        m["wand.jobs_per_query"] = len(wj) / len(wand_reqs)
        m["wand.input_bytes_per_query"] = job_sum(wj, "input") / len(wand_reqs)

    m["trace.overhead_ratio"] = tracer.own_s / max(res.get("loop_s", 0.0), 1e-9)
    m["trace.jobs"] = len(jobs)
    m["trace.unattributed_jobs"] = len(loose)
    m["cpu_probe_s"], m["cpu_probe_end_s"] = probes

    detail = {
        "self_seconds_by_span": tree.self_seconds_by_name(),
        "spans": [
            {"id": s.id, "name": s.name, "layer": s.layer, "start": s.start, "end": s.end,
             "parent": s.parent, "req": s.req, "attrs": s.attrs,
             "jobs": [j["id"] for j in own.get(s.id, [])]}
            for s in spans
        ],
        "unattributed_jobs": loose,
    }
    return m, detail
