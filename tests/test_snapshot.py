"""Immutable snapshot handles: a CompressedIndex is one committed
manifest. A commit returns a new handle, a read on a handle sees one
snapshot for its whole life, compaction commits once and retires the
dirs older snapshots read instead of deleting them, and a crashed full
build leaves readers on the previous snapshot.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from lighthouse_spark.api.request import SearchRequest
from lighthouse_spark.api.service import QueryCache, SearchService, StoreEngine
from lighthouse_spark.functions.analysis import tokenize_text
from lighthouse_spark.operators import wand
from lighthouse_spark.plans.indexer import FieldSpec
from lighthouse_spark.sources import store, sync
from lighthouse_spark.sources.claims import synthetic_claims
from lighthouse_spark.sources.corpus import synthetic_corpus
from lighthouse_spark.sources.store import (
    CompressedIndex,
    build_and_save,
    build_resumable,
    load_index,
)

FIELDS = {"content": FieldSpec("content", positions=False)}
TERMS = tokenize_text("the return license", "code")


def _top(ci, k=10) -> list[tuple]:
    return [
        (r["doc_id"], round(r["score"], 9))
        for r in wand.wand_topk(ci, "content", TERMS, k=k).collect()
    ]


@pytest.fixture()
def corpus_store(spark, tmp_path):
    docs = synthetic_corpus(spark, 400)
    return build_and_save(
        docs, "doc_id", FIELDS, str(tmp_path / "idx"), mode="code", n_shards=4
    )


def test_handle_is_frozen(corpus_store):
    with pytest.raises(AttributeError):
        corpus_store.manifest = {}
    assert hash(corpus_store) == object.__hash__(corpus_store)


def test_commit_during_a_read_leaves_the_read_on_its_snapshot(
    spark, corpus_store, monkeypatch
):
    """A commit forced between two manifest reads of one WAND build
    (the postings and df come from before it, the tombstones after):
    the build on the original handle returns exactly the pre-commit
    top-10, and the returned handle serves the post-commit state."""
    ci = corpus_store
    pre = _top(ci)
    top3 = [d for d, _ in pre[:3]]
    # the edited docs keep every query term, so they match in both
    # snapshots, only with new lengths
    upd = ci.docs.filter(F.col("doc_id").isin(top3)).withColumn(
        "content", F.concat(F.lit("edited twice over "), F.col("content"))
    )
    orig = CompressedIndex.tombstones_bc
    committed: list[CompressedIndex] = []

    def commit_first(self):
        if not committed:
            committed.append(sync.apply_incremental(ci, upserts=upd))
        return orig(self)

    monkeypatch.setattr(CompressedIndex, "tombstones_bc", commit_first)
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in wand._wand_topk_build(ci, "content", TERMS, 10, 1.0).collect()
    ]
    monkeypatch.undo()
    assert got == pre
    assert committed and committed[0] is not ci
    post = _top(committed[0])
    assert post == _top(load_index(spark, ci.path))
    assert post != pre


def test_plan_resolved_before_compaction_reads_after_it(spark, corpus_store):
    """Compaction retires the dirs the old snapshot reads instead of
    deleting them: a plan resolved before `compact` and collected after
    it returns the pre-compaction answer."""
    ci = corpus_store
    docs = ci.docs.cache()
    ids = [r["doc_id"] for r in docs.orderBy("doc_id").limit(6).collect()]
    upd = docs.filter(F.col("doc_id").isin(ids[:4])).withColumn(
        "content", F.concat(F.lit("the return "), F.col("content"))
    )
    ci = sync.apply_incremental(ci, upserts=upd, del_id_list=ids[4:])
    want = _top(load_index(spark, ci.path), k=5)
    plan = wand.wand_topk(ci, "content", TERMS, k=5)
    new = sync.compact(ci)
    assert [(r["doc_id"], round(r["score"], 9)) for r in plan.collect()] == want
    assert not new.manifest["deltas"] and ci.manifest["deltas"]
    assert _top(new, k=5) == want


def test_compaction_commits_once(spark, corpus_store, monkeypatch):
    """Merge, trigram fold and fuzzy-dictionary re-save all land in ONE
    commit, so no reader ever sees a state in between."""
    ci = corpus_store.save_trigram("content").save_term_dict()
    upd = ci.docs.orderBy("doc_id").limit(2).withColumn(
        "content", F.concat(F.lit("oncemarker "), F.col("content"))
    )
    ci = sync.apply_incremental(ci, upserts=upd)
    assert ci.manifest["trigram_deltas"]["content"] and ci.manifest["ts_deltas"]
    commits = []
    orig = store._commit
    monkeypatch.setattr(
        store, "_commit", lambda path, man: commits.append(path) or orig(path, man)
    )
    new = sync.compact(ci)
    assert len(commits) == 1
    assert not new.manifest.get("trigram_deltas", {}).get("content")
    assert new.trigram_index("content") is not None
    td = new.term_dict()
    assert td is not None and td[1] == 3
    assert new.manifest["term_dict_for"] == {
        "term_stats": new.manifest["dirs"]["term_stats"], "ts_deltas": [],
    }
    got = {r["term"]: r["df"] for r in td[0].filter(F.col("term") == "oncemarker").collect()}
    assert got == {"oncemarker": 2}


def test_writer_jobs_keep_the_callers_job_group(spark, corpus_store):
    """Compaction's writer threads inherit the caller's job group, so
    `cancelJobGroup` reaches every job it submits."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ci = sync.apply_incremental(corpus_store, del_id_list=[1, 2, 3])
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("snapshot-compact", "compaction under a job group")
    try:
        sync.compact(ci)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    grouped = set(tracker.getJobIdsForGroup("snapshot-compact"))
    assert grouped
    assert set(tracker.getJobIdsForGroup(None)) - before == set()


def _parquet_failing_on(monkeypatch, fragment: str) -> None:
    orig = DataFrameWriter.parquet

    def parquet(self, path, *a, **kw):
        if fragment in str(path):
            raise OSError(f"injected writer failure at {path}")
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def test_crashed_full_build_leaves_readers_on_the_old_snapshot(
    spark, corpus_store, monkeypatch
):
    """A full rebuild onto a path that holds snapshot A whose writer
    raises partway — one of `save_index`'s writers, or the finalize of
    `build_resumable` — leaves `load_index` on A's manifest and A's
    WAND top-10."""
    path = corpus_store.path
    man_a = load_index(spark, path).manifest
    top_a = _top(load_index(spark, path))
    other = synthetic_corpus(spark, 400).withColumn(
        "content", F.concat(F.lit("license license "), F.col("content"))
    )

    with monkeypatch.context() as m:
        _parquet_failing_on(m, "/term_stats_v_")
        with pytest.raises(OSError, match="injected"):
            build_and_save(other, "doc_id", FIELDS, path, mode="code", n_shards=4)
    assert load_index(spark, path).manifest == man_a
    assert _top(load_index(spark, path)) == top_a

    with monkeypatch.context() as m:
        _parquet_failing_on(m, "/postings_v_")
        with pytest.raises(OSError, match="injected"):
            build_resumable(other, "doc_id", FIELDS, path, mode="code",
                            n_shards=4, n_slices=2)
    assert load_index(spark, path).manifest == man_a
    assert _top(load_index(spark, path)) == top_a


def test_search_many_while_the_engine_swaps_snapshots(spark, tmp_path):
    """`search_many` on a `SearchService(StoreEngine(ci))` while another
    thread rebinds `engine.cindex` to each sync's and then the
    compaction's handle: every response equals the answer of one of
    the committed handles, and no request raises."""
    specs = {
        f: FieldSpec(f, positions=True)
        for f in ("name", "title", "description", "channel")
    }
    claims = synthetic_claims(spark, 200)
    ci = build_and_save(claims, "doc_id", specs, str(tmp_path / "idx"),
                        mode="simple", n_shards=4)
    engine = StoreEngine(ci)
    svc = SearchService(engine, cache=QueryCache(ttl_seconds=0.0))
    docs = ci.docs.orderBy("doc_id").limit(9).cache()
    rows = docs.collect()
    batches = []
    for i in range(3):
        ids = [r["doc_id"] for r in rows[3 * i: 3 * i + 3]]
        b = docs.filter(F.col("doc_id").isin(ids)).withColumn(
            "name", F.concat(F.lit("swapmarker "), F.col("name"))
        ).withColumn("bid_state", F.lit("Accepted"))
        if i == 2:  # and one delete
            b = b.unionByName(
                docs.filter(F.col("doc_id") == rows[0]["doc_id"])
                .withColumn("bid_state", F.lit("Spent"))
            )
        batches.append(
            b.withColumn("id", F.lit(i + 1).cast("long"))
            .withColumn("modified_at", F.lit(4_000_000_000))
            .cache()
        )
    reqs = [
        SearchRequest(s="swapmarker", size=5),
        SearchRequest(s="swapmarker crypto", size=5),
        SearchRequest(s="interesting facts", size=5),
    ]
    handles = [ci]
    errors: list[BaseException] = []
    state = str(tmp_path / "syncstate.json")

    def writer():
        try:
            for b in batches:
                engine.cindex = sync.sync(engine.cindex, b, state)
                handles.append(engine.cindex)
            engine.cindex = sync.compact(engine.cindex)
            handles.append(engine.cindex)
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    t = threading.Thread(target=writer)
    t.start()
    responses = []
    while t.is_alive() or not responses:
        responses.append(svc.search_many(reqs, max_workers=3))
    t.join()
    assert not errors, errors
    assert len(handles) == 5 and len(set(map(id, handles))) == 5

    answers = [[SearchService(StoreEngine(h)).search(r) for r in reqs] for h in handles]
    assert answers[0][0] != answers[-1][0]  # the commits move the answer
    for got in responses:
        for j, resp in enumerate(got):
            assert any(resp == a[j] for a in answers), (j, resp)
    assert svc.search_many(reqs, max_workers=3) == answers[-1]
