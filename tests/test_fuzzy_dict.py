"""Persisted (field, pfx)-partitioned fuzzy dictionary — the d=2
scale path (VERDICT r3 next #2): AUTO d=2's ~3.7k 3-gram prefix
classes can't push as a StringStartsWith OR, but against a dictionary
PARTITIONED on the 3-char prefix they become a literal IN-list on the
partition column → static partition pruning at planning time.

Pinned here: pruned results ≡ band-scan results, the partition filter
is actually in the plan, the dict stays live-exact across incremental
deltas, and it invalidates honestly when compaction rewrites the base
dictionary (band fallback, still correct)."""

from __future__ import annotations

import copy
import re

from pyspark.sql import functions as F

from lighthouse_spark.operators import expand
from lighthouse_spark.sources import sync
from lighthouse_spark.sources.corpus import synthetic_corpus
from lighthouse_spark.sources.store import CompressedIndex, build_and_save

Q2 = "sparklihgt"  # 2 edits from 'sparklight' → AUTO d=2 (len>5)
Q1 = "scorr"       # 1 edit from 'score'      → AUTO d=1 (len 3-5)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _without_dict(ci):
    """A handle on ``ci``'s snapshot with the fuzzy-dictionary pointer
    stripped (handles are immutable: edit a copy of the manifest)."""
    man = copy.deepcopy(ci.manifest)
    man["dirs"].pop("term_dict")
    return CompressedIndex(ci.path, ci.spark, manifest=man)


def test_fuzzy_dict_lifecycle(spark, tmp_path):
    docs = synthetic_corpus(spark, 300)
    path = str(tmp_path / "idx")
    ci = build_and_save(docs, "doc_id", {"content": "content"}, path,
                        mode="code", n_shards=4)

    # --- before save: no dict, band path serves ---
    assert ci.term_dict() is None
    band = expand.expand_fuzzy_fields(ci, ["content"], [Q2, Q1])
    assert "sparklight" in band["content"][Q2]
    assert "score" in band["content"][Q1]

    # --- save: pruned path must be value-identical to the band scan ---
    ci = ci.save_term_dict()
    got = ci.term_dict()
    assert got is not None and got[1] == 3
    pruned = expand.expand_fuzzy_fields(ci, ["content"], [Q2, Q1])
    assert pruned == band

    # fuzzy_and_df parity: same index with the dict pointer popped
    # (forces the band path) must return identical (df, expansions)
    ci_nodict = _without_dict(ci)
    df_a, fz_a = expand.fuzzy_and_df(ci, ["content"], [Q2, Q1, "merge"])
    df_b, fz_b = expand.fuzzy_and_df(ci_nodict, ["content"], [Q2, Q1, "merge"])
    assert fz_a == fz_b
    assert df_a == df_b

    # single-field path too
    assert expand.expand_fuzzy(ci, "content", Q2) == expand.expand_fuzzy(
        ci_nodict, "content", Q2
    )

    # --- the partition filter is IN THE PLAN (static pruning) ---
    leg = expand._fuzzy_dict_leg(ci, ["content"], [Q2], {Q2: 2})
    assert leg is not None
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000000")
    try:
        leg = expand._fuzzy_dict_leg(ci, ["content"], [Q2], {Q2: 2})
        p = _plan(leg)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    m = re.search(r"PartitionFilters: \[([^\]]*)", p)
    assert m and "pfx" in m.group(1), f"no pfx partition filter:\n{p[:1200]}"
    # and the prune is real: the class predicate admits a strict
    # subset of the dictionary's partitions
    full = ci.term_dict()[0]
    pred = expand._fuzzy_dict_pred([Q2], {Q2: 2}, 3)
    n_live = full.filter(pred).select("pfx").distinct().count()
    n_all = full.select("pfx").distinct().count()
    assert 0 < n_live < n_all

    # --- incremental delta: new terms appear WITHOUT re-saving ---
    upd = ci.docs.orderBy("doc_id").limit(1).withColumn(
        "content", F.concat(F.lit("sparklihg zzz "), F.col("content"))
    )
    ci = sync.apply_incremental(ci, upserts=upd)
    assert ci.term_dict() is not None  # deltas fold in, dict still live
    live = expand.expand_fuzzy_fields(ci, ["content"], [Q2])
    assert "sparklihg" in live["content"][Q2]  # 1 edit from the query
    assert "sparklight" in live["content"][Q2]

    # --- compaction rewrites the base dictionary AND re-saves the
    # pruned dict from the compacted live view (a dictionary-sized
    # scan) — the d=2 partition-pruned path survives compaction
    ci = sync.compact(ci)
    got = ci.term_dict()
    assert got is not None and got[1] == 3
    post = expand.expand_fuzzy_fields(ci, ["content"], [Q2])
    assert "sparklihg" in post["content"][Q2]
    assert "sparklight" in post["content"][Q2]
    # and a manually-stripped pointer still falls back to the band
    ci_nod = _without_dict(ci)
    assert ci_nod.term_dict() is None
    band_post = expand.expand_fuzzy_fields(ci_nod, ["content"], [Q2])
    assert band_post == post


def test_term_dict_resave_different_pfx_len(spark, tmp_path):
    """Re-saving the dictionary with a different pfx_len must serve the
    new layout: the re-save returns a new handle with its own memo, so
    the pfx-2 frame memoized on the old handle can never pair with
    pfx_len=3 predicates (which would silently match zero partitions
    and kill all fuzzy expansion)."""
    docs = synthetic_corpus(spark, 120)
    ci = build_and_save(docs, "doc_id", {"content": "content"},
                        str(tmp_path / "idx"), mode="code", n_shards=4)
    ci = ci.save_term_dict(pfx_len=2)
    a = expand.expand_fuzzy_fields(ci, ["content"], [Q1])
    assert ci.term_dict()[1] == 2
    ci = ci.save_term_dict(pfx_len=3)
    assert ci.term_dict()[1] == 3
    b = expand.expand_fuzzy_fields(ci, ["content"], [Q1])
    assert b == a and "score" in b["content"][Q1]
