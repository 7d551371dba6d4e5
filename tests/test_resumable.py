"""Resumable checkpointed build (north_rule: per-partition shard
checkpoints with lineage + build metrics; resume skips tokenized
slices). Pins: (1) sliced build == one-shot build, query-for-query,
stat-for-stat and block-byte-for-block-byte; (2) an interrupted build
resumes from the journal without re-tokenizing completed slices; (3)
parameter or checkpoint-layout mismatches are refused instead of
silently mixing checkpoints."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from lighthouse_spark.functions.analysis import tokenize_text
from lighthouse_spark.operators import wand
from lighthouse_spark.sources.corpus import synthetic_corpus
from lighthouse_spark.plans.indexer import FieldSpec, build_index
from lighthouse_spark.sources.store import build_and_save, build_resumable, save_index

FIELDS = {"content": "content"}
# one positional and one plain field: the checkpoint round-trips the
# poss column and splits the fields back apart
MIXED_FIELDS = {"content": FieldSpec("content", positions=True), "path": "path"}
QUERIES = ["the return license", "sparklight", "getUserName merge"]


def _block_rows(ci):
    return sorted(
        (
            r["shard"], r["field"], r["term"], r["block_id"], r["n_docs"],
            bytes(r["doc_ids_enc"]), bytes(r["tfs_enc"]), bytes(r["dls_enc"]),
            r["positions_enc"] and bytes(r["positions_enc"]),
            r["max_tfn"], r["max_doc_id"], r["enc_avgdl"],
        )
        for r in ci.postings.drop("snapshot").collect()
    )


def _results(ci):
    out = {}
    for q in QUERIES:
        rows = wand.wand_topk(ci, "content", tokenize_text(q, "code"), k=10).collect()
        out[q] = [(r["doc_id"], round(r["score"], 9)) for r in rows]
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    return synthetic_corpus(spark, 350).cache()


def test_sliced_build_equals_oneshot(spark, corpus, tmp_path):
    one = build_and_save(corpus, "doc_id", MIXED_FIELDS, str(tmp_path / "one"),
                         mode="code", n_shards=4)
    sliced = build_resumable(corpus, "doc_id", MIXED_FIELDS, str(tmp_path / "sl"),
                             mode="code", n_shards=4, n_slices=3)
    assert sliced is not None
    assert _results(sliced) == _results(one)
    # the same encoder over the same aggregates: byte-identical blocks
    left, right = _block_rows(sliced), _block_rows(one)
    assert len(left) == len(right) and left == right
    assert sorted(sliced.term_stats.collect()) == sorted(one.term_stats.collect())
    # exact corpus stats: identical bookkeeping to the one-shot path
    assert sliced.manifest["corpus"] == one.manifest["corpus"]
    assert sliced.manifest["metrics"]["n_docs"] == one.manifest["metrics"]["n_docs"]
    # checkpoint dir cleaned up after finalize; slice lineage kept
    assert not os.path.exists(str(tmp_path / "sl" / "build_checkpoint"))
    ops = [e["op"] for e in sliced.manifest["lineage"]]
    assert ops.count("build_slice") == 3 and ops[-1] == "full_build_finalize"


def test_interrupted_build_resumes_without_retokenize(spark, corpus, tmp_path):
    path = str(tmp_path / "resume")
    # run 1: budget of one slice -> incomplete
    assert build_resumable(corpus, "doc_id", FIELDS, path,
                           mode="code", n_shards=4, n_slices=3, max_slices=1) is None
    j1 = json.load(open(f"{path}/build_checkpoint/progress.json"))
    assert len(j1["slices"]) == 1
    (done_slice,) = j1["slices"]
    mtime1 = os.path.getmtime(f"{path}/build_checkpoint/slice_{done_slice}/aggs")
    # run 2: another single slice -> still incomplete, slice 1 untouched
    assert build_resumable(corpus, "doc_id", FIELDS, path,
                           mode="code", n_shards=4, n_slices=3, max_slices=1) is None
    j2 = json.load(open(f"{path}/build_checkpoint/progress.json"))
    assert len(j2["slices"]) == 2
    assert j2["slices"][done_slice] == j1["slices"][done_slice]
    assert os.path.getmtime(
        f"{path}/build_checkpoint/slice_{done_slice}/aggs"
    ) == mtime1, "resume must not re-tokenize a journaled slice"
    # run 3: unbudgeted -> finalizes; identical to one-shot
    ci = build_resumable(corpus, "doc_id", FIELDS, path,
                         mode="code", n_shards=4, n_slices=3)
    assert ci is not None
    one = build_and_save(corpus, "doc_id", FIELDS, str(tmp_path / "one2"),
                         mode="code", n_shards=4)
    assert _results(ci) == _results(one)
    assert ci.manifest["corpus"] == one.manifest["corpus"]


def test_checkpoint_param_mismatch_refused(spark, corpus, tmp_path):
    path = str(tmp_path / "mismatch")
    assert build_resumable(corpus, "doc_id", FIELDS, path,
                           mode="code", n_shards=4, n_slices=3, max_slices=1) is None
    with pytest.raises(ValueError, match="different"):
        build_resumable(corpus, "doc_id", FIELDS, path,
                        mode="code", n_shards=4, n_slices=4)


def test_checkpoint_from_other_layout_refused(spark, corpus, tmp_path):
    """A journal without the current checkpoint-layout marker (left by
    a build that checkpointed another layout) is refused, not
    half-read."""
    ckdir = tmp_path / "oldlayout" / "build_checkpoint"
    ckdir.mkdir(parents=True)
    params = {"n_slices": 3, "mode": "code", "doc_id_col": "doc_id",
              "fields": {"content": ["content", False]}}
    (ckdir / "progress.json").write_text(json.dumps({"params": params, "slices": {}}))
    with pytest.raises(ValueError, match="different"):
        build_resumable(corpus, "doc_id", FIELDS, str(tmp_path / "oldlayout"),
                        mode="code", n_shards=4, n_slices=3)


def test_save_index_without_aggregates_raises(spark, corpus, tmp_path):
    """save_index encodes from the per-doc aggregates; an index built
    without them (cache_agg=False) is refused with a pointer to the
    right entry point, and nothing is committed."""
    idx = build_index(corpus, "doc_id", FIELDS, "code")
    with pytest.raises(ValueError, match="cache_agg=True"):
        save_index(idx, str(tmp_path / "noagg"), n_shards=4)
    assert not os.path.exists(str(tmp_path / "noagg" / "manifest.json"))
