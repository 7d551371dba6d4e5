"""Trigram index (operators/trigram.py): the scale path for
substring/regex search — the reference's disabled wildcard clauses
(query.go:39-41) served by a Cox/Zoekt-style gram posting list.

Covers: result parity with the full verify scan (the ground truth, by
construction), sound required-literal extraction, persisted-layout
partition pruning IN THE PLAN, store lifecycle honesty (docs rewrite
invalidates), and the engine's accelerated contains clauses.
"""

from __future__ import annotations

import copy
import gc
import re

import pytest
from pyspark.sql import functions as F

from lighthouse_spark.operators import trigram
from lighthouse_spark.sources import sync
from lighthouse_spark.sources.corpus import synthetic_corpus
from lighthouse_spark.sources.store import CompressedIndex, build_and_save


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def tri(docs):
    post, stats = trigram.build_trigram_index(docs, "doc_id", "content")
    return post.cache(), stats.cache()


@pytest.fixture(scope="module")
def needles(docs):
    """Substrings sliced out of a real doc so they are guaranteed
    present, including cross-token spans no term index could serve."""
    body = docs.orderBy("doc_id").limit(1).collect()[0]["content"]
    return [body[5:14], body[20:33], body[2:6]]


def test_substring_parity(docs, tri, needles):
    for needle in needles + ["zz_not_in_corpus"]:
        got = _ids(
            trigram.substring_search(docs, "doc_id", "content", needle, tri)
        )
        want = _ids(
            docs.filter(F.lower(F.col("content")).contains(needle.lower()))
        )
        assert got == want, needle
    assert len(_ids(trigram.substring_search(docs, "doc_id", "content", needles[0], tri))) > 0


def test_substring_short_needle_falls_back(docs, tri, needles):
    needle = needles[0][:2]
    got = _ids(trigram.substring_search(docs, "doc_id", "content", needle, tri))
    want = _ids(docs.filter(F.lower(F.col("content")).contains(needle.lower())))
    assert got == want


def test_absent_gram_is_provably_empty(docs, tri):
    """A query gram with df 0 short-circuits without a postings job."""
    assert (
        trigram.substring_candidates(tri[0], tri[1], "doc_id", "qßq") is None
    )
    assert _ids(
        trigram.substring_search(docs, "doc_id", "content", "qßq", tri)
    ) == []


def test_regex_parity(docs, tri, needles):
    mid = re.escape(needles[0].lower())
    pats = [
        f"{mid}",                       # pure literal
        f"{mid}[a-z ]*",                # literal + class tail
        f"({mid}|zz_not_in_corpus_zz)", # alternation: no required literal
        "zz_not(a|b)corpus",            # required literals, absent
    ]
    for pat in pats:
        got = _ids(trigram.regex_search(docs, "doc_id", "content", pat, tri))
        want = _ids(docs.filter(F.lower(F.col("content")).rlike(pat)))
        assert got == want, pat
    assert len(_ids(trigram.regex_search(docs, "doc_id", "content", pats[0], tri))) > 0


def test_verify_paths_parity(docs, tri, needles):
    """Both verify strategies — candidate-id IN-filter fetch (default,
    row-group-prunable) and forced semi-join (fetch_ids_max=0) — must
    return identical rows to the full scan."""
    for needle in needles[:2]:
        want = _ids(
            trigram.substring_search(docs, "doc_id", "content", needle, None)
        )
        got_join = _ids(
            trigram.substring_search(docs, "doc_id", "content", needle, tri)
        )
        got_fetch = _ids(
            trigram.substring_search(
                docs, "doc_id", "content", needle, tri,
                fetch_ids_max=trigram._FETCH_IDS_MAX,
            )
        )
        assert got_fetch == want and got_join == want


def test_fetch_path_pushes_id_filter(docs, tri, needles):
    """The small-candidate fetch path (opt-in) carries the doc-id IN
    predicate in the docs scan (pushable -> row-group pruning on an
    id-sorted layout), not a join."""
    plan = trigram.substring_search(
        docs, "doc_id", "content", needles[0], tri,
        fetch_ids_max=trigram._FETCH_IDS_MAX,
    )
    phys = plan._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in phys, phys


def test_required_literals():
    rl = trigram.required_literals
    assert rl("abc[0-9]+def") == ["abc", "def"]
    assert rl("foo(bar|baz)") == ["foo"]
    assert rl("(hello)+world") == ["hello", "world"]
    assert rl("x{0,3}abcd") == ["abcd"]
    assert rl("(?:opt)?required") == ["required"]
    assert rl("ab") == []                 # below min length
    assert rl("a.b.c") == []              # runs broken by ANY
    assert rl("(") == []                  # invalid pattern: no prefilter
    assert rl("^anchored suffix$") == ["anchored suffix"]
    assert rl("e{2}xyz") == ["xyz"]       # repeat literal walked once only


def test_persisted_layout_prunes_partitions(spark, docs, tri, needles, tmp_path):
    trigram.save_trigram_index(tri[0], str(tmp_path / "tg"))
    post, stats = trigram.load_trigram_index(spark, str(tmp_path / "tg"))
    assert "pfx" in post.columns

    # value parity through the persisted layout
    got = _ids(
        trigram.substring_search(docs, "doc_id", "content", needles[0], (post, stats))
    )
    want = _ids(docs.filter(F.lower(F.col("content")).contains(needles[0].lower())))
    assert got == want

    # the partition filter is IN THE PLAN (static pruning), and prunes
    # to a strict subset of partitions
    cands = trigram.substring_candidates(post, stats, "doc_id", needles[0])
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000000")
    try:
        cands = trigram.substring_candidates(post, stats, "doc_id", needles[0])
        p = _plan(cands)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    m = re.search(r"PartitionFilters: \[([^\]]*)", p)
    assert m and "pfx" in m.group(1), f"no pfx partition filter:\n{p[:1200]}"
    chosen_pfx = {g[:1] for g in trigram.query_grams(needles[0])}
    n_all = post.select("pfx").distinct().count()
    assert 0 < len(chosen_pfx) < n_all


def test_substring_memo_survives_id_reuse(docs, tri):
    """A fresh filtered docs frame per call, the previous one collected
    first: CPython hands a collected frame's id to the next object, so
    a plan memo keyed on id(docs) serves the previous frame's results."""
    needle = "getusername"
    hits = _ids(docs.filter(F.lower(F.col("content")).contains(needle)))
    assert len(hits) >= 40
    for i in range(40):
        d = docs.filter(F.col("doc_id") != hits[i])
        got = _ids(trigram.substring_search(d, "doc_id", "content", needle, tri))
        # the unaccelerated scan of d: every hit but the one filtered out
        assert got == hits[:i] + hits[i + 1:], i
        del d
        gc.collect()


def _parity(ci, needle):
    idx = ci.trigram_index("content")
    got = _ids(trigram.substring_search(ci.docs, "doc_id", "content", needle, idx))
    want = _ids(ci.docs.filter(F.lower(F.col("content")).contains(needle.lower())))
    assert got == want, needle
    return got


def test_store_lifecycle_incremental_maintenance(spark, tmp_path):
    """The gram index is maintained through apply_incremental with
    churn-proportional deltas: upserts add gram rows, every touched
    id's OLD rows are masked, deletes serve nothing — live and exact
    after each batch, no rebuild. A re-save folds deltas into a fresh
    base; a docs rewrite OUTSIDE the incremental path still
    invalidates (state check)."""
    docs = synthetic_corpus(spark, 120)
    path = str(tmp_path / "idx")
    ci = build_and_save(docs, "doc_id", {"content": "content"}, path,
                        mode="code", n_shards=4)
    assert ci.trigram_index("content") is None

    ci = ci.save_trigram("content")
    assert ci.trigram_index("content") is not None
    row0 = docs.orderBy("doc_id").limit(1).collect()[0]
    needle = row0["content"][4:12]
    assert _parity(ci, needle)

    # batch 1: UPDATE doc0 (inject a fresh substring) -> index stays
    # live, finds the fresh needle, and doc0's OLD grams are masked
    upd = ci.docs.orderBy("doc_id").limit(1).withColumn(
        "content", F.concat(F.lit("freshly_injected_needle zz"), F.col("content"))
    )
    ci = sync.apply_incremental(ci, upserts=upd)
    idx = ci.trigram_index("content")
    assert idx is not None  # NOT invalidated: delta-maintained
    assert _parity(ci, "freshly_injected") == [row0["doc_id"]]
    _parity(ci, needle)

    # batch 2: DELETE doc0 -> its grams serve nothing
    ci = sync.apply_incremental(ci, del_id_list=[int(row0["doc_id"])])
    assert ci.trigram_index("content") is not None
    assert _parity(ci, "freshly_injected") == []
    _parity(ci, needle)

    # a couple more churn rounds, then fold into a fresh base
    some = ci.docs.orderBy(F.desc("doc_id")).limit(2).withColumn(
        "content", F.concat(F.lit("another_marker "), F.col("content"))
    )
    ci = sync.apply_incremental(ci, upserts=some)
    assert len(_parity(ci, "another_marker")) == 2
    ci = ci.save_trigram("content")
    assert not ci.manifest.get("trigram_deltas", {}).get("content")
    assert len(_parity(ci, "another_marker")) == 2

    # compaction AUTO-folds pending deltas into a fresh base (bounded
    # growth), keeps the index live, and retires the orphaned snaps
    import os

    more = ci.docs.orderBy("doc_id").limit(1).withColumn(
        "content", F.concat(F.lit("compact_pending_marker "), F.col("content"))
    )
    ci = sync.apply_incremental(ci, upserts=more)
    assert ci.manifest.get("trigram_deltas", {}).get("content")  # pending
    ci = sync.compact(ci)
    assert not ci.manifest.get("trigram_deltas", {}).get("content")  # folded
    assert ci.trigram_index("content") is not None
    assert len(_parity(ci, "another_marker")) == 2
    assert len(_parity(ci, "compact_pending_marker")) == 1
    retired = {d for e in ci.manifest["retired"] for d in e["dirs"]}
    tri_root = f"{path}/trigram_delta/content"
    assert {f"trigram_delta/content/{s}" for s in os.listdir(tri_root)} <= retired

    # touched-id sidecars (ADVICE r4): the manifest never inlines the
    # churned id list — records carry a snap-keyed parquet reference —
    # and compaction retired the orphaned sidecars along with the deltas
    for recs in ci.manifest.get("trigram_deltas", {}).values():
        for r in recs:
            assert "touched" not in r and r.get("touched_ref")
    tid_root = f"{path}/touched_ids"
    assert {f"touched_ids/{s}" for s in os.listdir(tid_root)} <= retired

    # an out-of-band docs rewrite (no incremental path) invalidates
    man = copy.deepcopy(ci.manifest)
    man["trigram_for"]["content"]["docs"] = "docs_v_someone_else"
    assert CompressedIndex(path, spark, manifest=man).trigram_index("content") is None


def test_touched_sidecar_written_and_legacy_inline_readable(spark, tmp_path):
    """New batches write the touched-id sidecar once per snap (shared
    by all trigram columns, manifest O(#batches)); a LEGACY manifest
    whose records still inline "touched" lists keeps serving
    correctly."""
    docs = synthetic_corpus(spark, 60)
    path = str(tmp_path / "idx")
    ci = build_and_save(docs, "doc_id", {"content": "content"}, path,
                        mode="code", n_shards=2)
    ci = ci.save_trigram("content")
    row0 = docs.orderBy("doc_id").limit(1).collect()[0]
    upd = ci.docs.orderBy("doc_id").limit(1).withColumn(
        "content", F.concat(F.lit("sidecar_marker_xyz "), F.col("content"))
    )
    ci = sync.apply_incremental(ci, upserts=upd)
    recs = ci.manifest["trigram_deltas"]["content"]
    assert recs and all(r.get("touched_ref") and "touched" not in r for r in recs)
    import os

    assert os.path.exists(f"{path}/touched_ids/{recs[0]['touched_ref']}")
    assert _parity(ci, "sidecar_marker_xyz") == [row0["doc_id"]]

    # legacy form: a handle over a manifest whose record carries the
    # inline list (what r4 manifests contain) — same masked view, same
    # results
    man = copy.deepcopy(ci.manifest)
    rec = man["trigram_deltas"]["content"][0]
    rec.pop("touched_ref")
    rec["touched"] = [int(row0["doc_id"])]
    legacy = CompressedIndex(path, spark, manifest=man)
    assert _parity(legacy, "sidecar_marker_xyz") == [row0["doc_id"]]


def test_engine_contains_uses_trigram(spark):
    """enable_contains engines with and without trigram handles return
    identical results — acceleration, not semantics."""
    from lighthouse_spark.api.engine import SearchEngine
    from lighthouse_spark.api.request import SearchRequest
    from lighthouse_spark.plans.indexer import FieldSpec, build_index
    from lighthouse_spark.sources.claims import synthetic_claims

    claims = synthetic_claims(spark, 200).cache()
    idx = build_index(
        claims, "doc_id",
        {"name": FieldSpec("name", positions=True),
         "title": FieldSpec("title", positions=True),
         "description": FieldSpec("description", positions=True),
         "channel": FieldSpec("channel", positions=True)},
        mode="simple",
    ).cache()
    handles = {
        lg: tuple(x.cache() for x in trigram.build_trigram_index(claims, "doc_id", lg))
        for lg in ("name", "title", "description")
    }
    # the callable form (live store resolution) must behave identically
    name_tuple = handles["name"]
    handles["name"] = lambda: name_tuple
    base = SearchEngine(idx, enable_contains=True)
    accel = SearchEngine(idx, enable_contains=True, trigram=handles)
    req = SearchRequest(s="crypto", size=25)
    a = [(r["doc_id"], r["score"]) for r in base.search(req).select("doc_id", "score").collect()]
    b = [(r["doc_id"], r["score"]) for r in accel.search(req).select("doc_id", "score").collect()]
    assert a == b and a


def test_regex_case_insensitive_flag(docs, tri, needles):
    """(?i) patterns: the lowered index prefilters on case-folded
    literal grams (query_grams lowercases) — results must equal the
    full verify scan, including when the pattern literal is uppercase."""
    pat = f"(?i){re.escape(needles[0].upper())}"
    got = _ids(trigram.regex_search(docs, "doc_id", "content", pat, tri))
    want = _ids(docs.filter(F.lower(F.col("content")).rlike(pat)))
    assert got == want and got  # non-empty: the needle IS in the text


def test_regex_case_sensitive_index_skips_prefilter(spark):
    """A case-SENSITIVE index must not prefilter an (?i) pattern's
    as-cased literals (false provably-empty); the guard falls back to
    the full verify scan."""
    rows = [(1, "Hello World Example"), (2, "nothing here")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    tri_cs = trigram.build_trigram_index(df, "doc_id", "text", lowercase=False)
    got = _ids(
        trigram.regex_search(
            df, "doc_id", "text", "(?i)HELLO WORLD", tri_cs, lowercase=False
        )
    )
    assert got == [1]


def test_regex_multiflag_and_scoped_ignorecase(spark):
    """ADVICE r4: ignore-case must be derived from the PARSED flag
    state, not the literal substring "(?i" — multi-letter groups
    ((?si)), scoped groups ((?i:...)), and re-enabling ((?-i:...))
    all have to behave on a case-SENSITIVE index."""
    rows = [(1, "Hello World Example"), (2, "nothing here")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    tri_cs = trigram.build_trigram_index(df, "doc_id", "text", lowercase=False)

    def run(pat):
        return _ids(
            trigram.regex_search(df, "doc_id", "text", pat, tri_cs, lowercase=False)
        )

    # (?si): the old "(?i" substring check missed this — the as-cased
    # gram prefilter for "hello world" would wrongly drop doc 1
    assert run("(?si)hello world") == [1]
    # scoped (?i:...): literal inside the scope is not required as-cased
    assert run("(?i:hello) World") == [1]
    # case-sensitive scope inside (?i): the inner literal IS required
    # as-cased and may prefilter — exactness vs the verify scan
    assert run("(?i:xx)?(?-i:Hello) World") == [1]
    assert run("(?-i:hello) World") == []  # as-cased literal truly absent
    # and the drop is precise: the case-sensitive literal of a mixed
    # pattern still yields a prefilter literal
    lits = trigram.required_literals("(?i:foo)Barbaz", drop_ignorecase=True)
    assert "Barbaz" in lits and all("foo" not in l.lower() or l == "Barbaz" for l in lits)
    assert trigram.required_literals("(?si)foobar", drop_ignorecase=True) == []


def test_short_and_null_texts_produce_no_junk_postings(spark):
    """length<3 / empty / NULL texts must contribute nothing: without
    the length guard, sequence(1, length-2) runs DESCENDING [1,0] and
    emits sub-3-char / empty / NULL 'grams' into postings and a null
    pfx partition on save."""
    df = spark.createDataFrame(
        [(1, "ab"), (2, ""), (3, "abc"), (4, None)], "doc_id int, text string"
    )
    post, stats = trigram.build_trigram_index(df, "doc_id", "text")
    rows = post.collect()
    assert {r["doc_id"] for r in rows} == {3}
    assert all(r["gram"] is not None and len(r["gram"]) == 3 for r in rows)
    assert stats.collect()[0]["gram"] == "abc"


# ---------------------------------------------------------------------------
# property: required-literal extraction is SOUND — every literal it
# returns appears verbatim in every string the pattern matches. We
# build (pattern, witness) pairs simultaneously from a tiny grammar,
# so the witness is a match by construction.
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_words = st.text(alphabet="abcdxyz_ ", min_size=1, max_size=8)


@st.composite
def _pattern_and_witness(draw):
    import re as _re

    parts = draw(st.lists(st.integers(0, 5), min_size=1, max_size=6))
    pat, wit = [], []
    for kind in parts:
        w = draw(_words)
        if kind == 0:                      # literal
            pat.append(_re.escape(w)); wit.append(w)
        elif kind == 1:                    # alternation, left chosen
            w2 = draw(_words)
            pat.append(f"({_re.escape(w)}|{_re.escape(w2)})"); wit.append(w)
        elif kind == 2:                    # optional group, omitted
            pat.append(f"(?:{_re.escape(w)})?"); wit.append("")
        elif kind == 3:                    # char class plus
            pat.append("[0-9]+"); wit.append(draw(st.text("0123456789", min_size=1, max_size=3)))
        elif kind == 4:                    # dot-star
            pat.append(".*"); wit.append(draw(_words))
        else:                              # required repeat of a group
            pat.append(f"({_re.escape(w)})+"); wit.append(w * draw(st.integers(1, 2)))
    return "".join(pat), "".join(wit)


@settings(max_examples=200, deadline=None)
@given(_pattern_and_witness())
def test_required_literals_sound(pw):
    import re as _re

    pattern, witness = pw
    assert _re.search(pattern, witness) is not None  # witness is a match
    for lit in trigram.required_literals(pattern):
        assert lit in witness, (pattern, witness, lit)
