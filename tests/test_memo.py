"""The per-handle memo (functions/memo.get) on a persisted store: a
repeated identical request builds nothing, and the handle a commit
returns serves the new state at every memoized site, with no
pre-commit plan left alive once the old handle is dropped.

Builds are counted at LRU.get_or_build, the one path every lookup
takes; no test reads the memo's own attributes.
"""

from __future__ import annotations

import gc
import weakref

import pytest
from pyspark.sql import functions as F

from lighthouse_spark.api.autocomplete import autocomplete_over_store
from lighthouse_spark.api.engine import search_over_store
from lighthouse_spark.api.request import AutoCompleteRequest, SearchRequest
from lighthouse_spark.functions import memo
from lighthouse_spark.operators import wand
from lighthouse_spark.plans.indexer import FieldSpec
from lighthouse_spark.sources import sync
from lighthouse_spark.sources.claims import synthetic_claims
from lighthouse_spark.sources.store import build_and_save, load_index

NOW = 1767225600.0
SPECS = {
    f: FieldSpec(f, positions=True)
    for f in ("name", "title", "description", "channel")
}
CASES = {
    "search_over_store": lambda ci: search_over_store(
        ci, SearchRequest(s="memomarker", size=10), now_seconds=NOW
    ),
    "autocomplete_over_store": lambda ci: autocomplete_over_store(
        ci, AutoCompleteRequest(s="memomark", size=10)
    ),
    "wand_topk": lambda ci: wand.wand_topk(ci, "name", ["memomarker"], k=10),
}


@pytest.fixture()
def builds(monkeypatch):
    """Kinds of the memo entries built, in order."""
    seen: list[str] = []
    orig = memo.LRU.get_or_build

    def counting(self, key, build):
        def b():
            seen.append(key[0])
            return build()

        return orig(self, key, b)

    monkeypatch.setattr(memo.LRU, "get_or_build", counting)
    return seen


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def test_memo_hits_then_commit_invalidates(spark, tmp_path, builds):
    claims = synthetic_claims(spark, 200)
    ci = build_and_save(claims, "doc_id", SPECS, str(tmp_path / "idx"),
                        mode="simple", n_shards=4)
    pre, plans = {}, {}
    for name, run in CASES.items():
        plan = run(ci)
        pre[name] = _rows(plan)
        builds.clear()
        assert run(ci) is plan, name
        assert builds == [], name  # a repeated request builds nothing
        plans[name] = weakref.ref(plan)
    del plan

    upd = (
        ci.docs.orderBy("doc_id").limit(1)
        .withColumn("name", F.lit("memomarker"))
        .cache()
    )
    upd.count()
    ci = sync.apply_incremental(ci, upserts=upd)
    fresh = load_index(spark, ci.path)
    for name, run in CASES.items():
        post = _rows(run(ci))
        assert post == _rows(run(fresh)), name
        assert post != pre[name], name
    gc.collect()
    alive = [name for name, ref in plans.items() if ref() is not None]
    assert alive == []
