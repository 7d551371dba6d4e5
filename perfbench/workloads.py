"""The benchmark's workloads. Each one is chosen to make a different
layer do nearly all the work; the reason sits next to its definition.

A workload gets a ``Ctx`` and returns a dict of raw results; run.py
turns those into the end-to-end metrics (untraced run) or, with the
trace, into the per-layer metrics.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from perfbench import checks, gen
from perfbench.harness import Ledger, closed_loop, dir_bytes, fresh_dir, median

# Corpus sizes: the largest that keep the benchmark's runs (4 + 22 per
# workload) inside their time budget on 4 shared cores, where a run can
# slow by half under co-tenant load. The cold path was first sized on a
# 50k-claim store, which does not fit.
# ingest: at 1k claims the build was almost all fixed cost (~11 s at any
# size); at 20k the per-doc encode and shuffle work is a real share of
# it, so an encoder change moves build_docs_per_s.
INGEST_CLAIMS = 20_000
# search_cold: dictionary round trips and plan building cost the same at
# any size, and a cold request costs about as much at 1k as at 3k claims
# (~5 s at 10k); the run serves a whole request mix after a full build.
SEARCH_CLAIMS = 2_000
BM25_POOL = 5          # distinct BM25 queries, warmed once, then timed once each
BM25_FIELD = "description"
REQUEST_STREAM = 80    # distinct requests generated; a run serves far fewer
GEN_REPEATS = 3


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    nproc: int
    tracer: object | None
    ledger: Ledger = field(default_factory=Ledger)
    setup: dict = field(default_factory=dict)

    def span(self, name: str, layer: str, req: str | None = None):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, layer, req)


def _claims_specs():
    from lighthouse_spark.plans.indexer import FieldSpec

    return {f: FieldSpec(f, positions=True) for f in gen.TEXT_FIELDS}


def _text_bytes(rows: list[dict], cols) -> int:
    return sum(len((r[c] or "").encode()) for r in rows for c in cols)


def _generate(ctx: Ctx, make):
    """Generate the inputs GEN_REPEATS times (set-up is reported as a
    median); every repeat yields identical inputs for the seed."""
    times, out = [], None
    for _ in range(GEN_REPEATS):
        t = time.perf_counter()
        with ctx.span("setup.generate", "setup"):
            out = make()
        times.append(time.perf_counter() - t)
    ctx.setup["generate_s"] = median(times)
    return out


def _build_claims(ctx: Ctx, g: gen.ClaimsGen, path: str):
    from lighthouse_spark.sources import store

    frame = gen.claims_frame(ctx.spark, g.base)
    t = time.perf_counter()
    with ctx.span("main_build", "bench"):
        ci = store.build_and_save(
            frame, "doc_id", _claims_specs(), fresh_dir(path), mode="simple",
            n_shards=ctx.nproc,
        )
    return ci, time.perf_counter() - t


def _store_stats(res: dict, path: str, n_docs: int, text_bytes: int, build_s: float) -> None:
    res["build_docs_per_s"] = n_docs / build_s
    res["store_bytes"] = dir_bytes(path)
    res["store_bytes_per_input_byte"] = res["store_bytes"] / text_bytes


# ---------------------------------------------------------------------------
# ingest — the store encoder, sync and compaction do nearly all the work;
# the dictionary, plan and cache layers do almost none. A build or sync
# change shows here, and a serving change should not move it.
# ---------------------------------------------------------------------------
def ingest(ctx: Ctx) -> dict:
    from lighthouse_spark.sources import sync

    g = _generate(ctx, lambda: gen.ClaimsGen(ctx.seed, INGEST_CLAIMS))
    res: dict = {"unit": "sync cycle"}
    path = os.path.join(ctx.work, "store")
    base_rows = list(g.base)
    # timed: one from-scratch build, then sync cycles until the run's
    # seconds are up (at least two), then one compaction. The seconds
    # count from the first cycle, so a faster build adds no cycles.
    ci, build_s = _build_claims(ctx, g, path)
    ctx.ledger.op("build", build_s, True)
    _store_stats(res, path, len(base_rows), _text_bytes(base_rows, gen.TEXT_FIELDS), build_s)
    state = os.path.join(ctx.work, "syncstate.json")
    t_loop = time.perf_counter()
    cycle = 0
    while cycle < 2 or time.perf_counter() - t_loop < ctx.seconds:
        src = gen.claims_frame(ctx.spark, g.sync_batch(cycle))
        t = time.perf_counter()
        ok = True
        try:
            with ctx.span("request", "request", req=f"sync{cycle}"):
                ci = sync.sync(ci, src, state, id_col="id", modified_col="modified_at")
        except Exception:  # noqa: BLE001 — a failed cycle counts; the loop goes on
            import traceback

            traceback.print_exc()
            ok = False
        ctx.ledger.op("sync", time.perf_counter() - t, ok)
        cycle += 1
    res["loop_s"] = time.perf_counter() - t_loop
    res["op_latencies"] = ctx.ledger.latencies(("sync",))
    res["requests"] = len(res["op_latencies"])
    res["pending_deltas"] = len(ci.manifest.get("deltas", []))
    t = time.perf_counter()
    with ctx.span("main_compact", "bench"):
        ci = sync.compact(ci)
    ctx.ledger.op("compact", time.perf_counter() - t, True)
    with ctx.span("checks", "checks"):
        checks.ingest(ctx.ledger, ci, g)
    return res


# ---------------------------------------------------------------------------
# search_cold — every request string and term set is distinct, so the
# working set exceeds both the QueryCache and the 128-entry memo: the
# dictionary round trips, plan building and execution do all the work on
# every request (the cold path), and build/sync sit idle.
#
# After the timed loop, outside the end-to-end metrics, two warm phases
# measure the layers a cold request never reaches: the served requests
# replayed on a fresh result cache (memo hits: no dictionary round trip,
# no plan building), and BM25 top-10 through the block-max WAND kernel
# from a query pool far smaller than the memo, warmed before timing.
# ---------------------------------------------------------------------------
def search_cold(ctx: Ctx) -> dict:
    from lighthouse_spark.api.request import SearchRequest
    from lighthouse_spark.api.service import SearchService, StoreEngine

    g, reqs = _generate(ctx, lambda: _claims_and_stream(ctx.seed))
    path = os.path.join(ctx.work, "store")
    t = time.perf_counter()
    ci, build_s = _build_claims(ctx, g, path)
    res: dict = {"unit": "request-mix cycle"}
    _store_stats(res, path, len(g.base), _text_bytes(g.base, gen.TEXT_FIELDS), build_s)

    def fresh_service():
        return SearchService(StoreEngine(ci, now_seconds=gen.NOW_SECONDS))

    def call(svc, req):
        if isinstance(req, SearchRequest):
            return svc.search(req), "search"
        return svc.autocomplete(req), "autocomplete"

    # one /search and one /autocomplete warm the serving code paths; the
    # timed stream starts at the next whole cycle and never repeats terms
    warm, reqs = reqs[:2], reqs[len(gen.CYCLE):]
    svc = fresh_service()
    with ctx.span("setup.warm_requests", "setup"):
        for r in warm:
            call(svc, r)
    ctx.setup["build_s"] = time.perf_counter() - t
    svc = fresh_service()
    responses: dict[int, object] = {}

    def serve(req, i):
        with ctx.span("request", "request", req=f"r{i}"):
            out, kind = call(svc, req)
        responses[i] = out
        return kind

    res["loop_s"] = closed_loop(ctx.seconds, reqs, serve, ctx.ledger, whole=len(gen.CYCLE))
    # one operation = one pass over the request mix (one request of each
    # shape): the mix's shapes differ several-fold in cost, so a median
    # over single requests of a short run would jump between shapes
    per_req = {o.index: o.seconds for o in ctx.ledger.ops if o.index >= 0 and o.ok}
    k = len(gen.CYCLE)
    res["op_latencies"] = [
        sum(per_req[j] for j in range(c, c + k))
        for c in range(0, max(per_req, default=-1) + 1, k)
        if all(j in per_req for j in range(c, c + k))  # a failed request spoils its cycle
    ]
    res["requests"] = len(per_req)
    res["cache_hits"], res["cache_misses"] = svc.cache.hits, svc.cache.misses
    with ctx.span("checks", "checks"):
        checks.search_responses(ctx.ledger, reqs, responses, g.live_frame())

    replay = fresh_service()
    same = []
    for i in sorted(responses):
        t = time.perf_counter()
        with ctx.span("warm_request", "request", req=f"w{i}"):
            out, kind = call(replay, reqs[i])
        ctx.ledger.op("warm_" + kind, time.perf_counter() - t, True)
        same.append(out == responses[i])
    ctx.ledger.check("replay.equal_to_cold", all(same), f"equal={same}")
    _bm25_phase(ctx, ci, g)
    return res


def _bm25_phase(ctx: Ctx, ci, g: gen.ClaimsGen) -> None:
    from lighthouse_spark.functions.analysis import tokenize_text
    from lighthouse_spark.operators import wand

    queries = [tokenize_text(" ".join(q), "simple") for q in g.bm25_pool(BM25_POOL)]
    with ctx.span("bm25_warmup", "warmup"):
        for terms in queries:
            wand.wand_topk(ci, BM25_FIELD, terms, k=10).collect()
    responses: dict[int, list] = {}
    for qi, terms in enumerate(queries):
        t = time.perf_counter()
        with ctx.span("bm25_request", "request", req=f"b{qi}"):
            rows = wand.wand_topk(ci, BM25_FIELD, terms, k=10).collect()
        ctx.ledger.op("bm25", time.perf_counter() - t, True)
        responses[qi] = [(r["doc_id"], r["score"]) for r in rows]
    with ctx.span("checks", "checks"):
        checks.bm25(ctx.ledger, ci, BM25_FIELD, queries, responses)


def _claims_and_stream(seed: int):
    g = gen.ClaimsGen(seed, SEARCH_CLAIMS)
    return g, g.request_stream(REQUEST_STREAM)


WORKLOADS = {
    "ingest": ingest,
    "search_cold": search_cold,
}

# wrappers each workload must see fire in the traced run
REQUIRED_WRAPPERS = {
    "ingest": ["store.build_and_save", "sync.sync", "sync.apply_incremental",
               "sync.compact", "collect"],
    "search_cold": ["store.build_and_save", "service.search", "service.autocomplete",
                    "expand.fuzzy_and_df", "expand.expand_prefix_with_df_fields",
                    "store.flat_view_terms", "engine.search", "autocomplete.autocomplete",
                    "collect", "memo.get_or_build", "wand.wand_topk"],
}
