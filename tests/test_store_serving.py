"""Store-served requests: the decode is the only Python work.

A store-served /search or /autocomplete decodes its terms' blocks once
(CompressedIndex.flat_view_terms materializes the decode), and every
side frame is a local relation (session.local_frame). The plan a
request returns therefore holds no Python node, and its results equal
the flat-index engine's."""

from __future__ import annotations

import pytest

from lighthouse_spark.api.autocomplete import autocomplete
from lighthouse_spark.api.engine import SearchEngine
from lighthouse_spark.api.request import AutoCompleteRequest, SearchRequest
from lighthouse_spark.api.service import StoreEngine
from lighthouse_spark.plans.indexer import FieldSpec, build_index
from lighthouse_spark.session import local_frame
from lighthouse_spark.sources.claims import synthetic_claims
from lighthouse_spark.sources.store import build_and_save

NOW = 1767225600.0
FIELDS = ("name", "title", "description", "channel")
PY_NODES = ("MapInArrow", "ArrowEvalPython", "BatchEvalPython")


@pytest.fixture(scope="module")
def claims(spark):
    return synthetic_claims(spark, 250).cache()


@pytest.fixture(scope="module")
def flat(claims):
    return build_index(
        claims, "doc_id", {f: FieldSpec(f, positions=True) for f in FIELDS}, mode="simple"
    ).cache()


@pytest.fixture(scope="module")
def store(claims, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("serving_store"))
    return StoreEngine(
        build_and_save(
            claims, "doc_id", {f: FieldSpec(f, positions=True) for f in FIELDS}, d,
            mode="simple", n_shards=4,
        ),
        now_seconds=NOW,
    )


def _assert_no_python(df):
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert not [n for n in PY_NODES if n in plan], plan
    lineage = qe.toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage


@pytest.mark.parametrize(
    "s",
    ['"amazing facts" science', "intresting crypto", "@scishow", '"amazing facts" intresting'],
)
def test_store_search_runs_no_python_after_decode(store, flat, s):
    """Quoted phrase, fuzzy (misspelt) and @channel requests: the
    returned plan holds no Python node and ranks as the flat engine."""
    req = SearchRequest(s=s, size=25)
    out = store.search(req)
    _assert_no_python(out)
    got = [(r["doc_id"], r["score"]) for r in out.select("doc_id", "score").collect()]
    want = [
        (r["doc_id"], r["score"])
        for r in SearchEngine(flat, now_seconds=NOW).search(req).select("doc_id", "score").collect()
    ]
    assert got, s
    assert [g[0] for g in got] == [w[0] for w in want]
    assert [g[1] for g in got] == pytest.approx([w[1] for w in want], rel=1e-9)


@pytest.mark.parametrize("s", ["cr", "amazing facts sc"])
def test_store_autocomplete_runs_no_python_after_decode(store, flat, s):
    """A prefix over three positional autocomplete fields (name, title,
    description): one decode, no Python node in the returned plan, and
    the flat path's suggestions."""
    req = AutoCompleteRequest(s=s, size=10)
    out = store.autocomplete(req)
    _assert_no_python(out)
    got = [(r["name"], r["doc_id"], round(r["score"], 9)) for r in out.collect()]
    want = [
        (r["name"], r["doc_id"], round(r["score"], 9))
        for r in autocomplete(flat, req).collect()
    ]
    assert got, s
    assert got == want


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_local_frame_schema_and_plan(spark):
    """Exact DDL schema and a LocalTableScan for empty and non-empty
    rows, a None in a string column, an int into a double column."""
    ddl = "clause string, gate string, w double, n long"
    empty = local_frame(spark, [], ddl)
    rows = local_frame(spark, [("name-match", None, 2, 7), ("title-match", "stream", 1.5, 0)], ddl)
    for df in (empty, rows):
        assert df.schema.simpleString() == "struct<clause:string,gate:string,w:double,n:bigint>"
        assert "LocalTableScan" in _plan(df) and "ExistingRDD" not in _plan(df)
    assert empty.collect() == []
    assert [tuple(r) for r in rows.collect()] == [
        ("name-match", None, 2.0, 7), ("title-match", "stream", 1.5, 0)
    ]


@pytest.mark.parametrize("row", [("a", 1.0), ("a", None, 1.0, 2, "extra")])
def test_local_frame_rejects_wrong_arity(spark, row):
    with pytest.raises(ValueError, match="columns"):
        local_frame(spark, [("ok", None, 1.0, 1), row], "clause string, gate string, w double, n long")

