"""Block-max WAND top-k over the compressed index.

The query path ES/Lucene executes for every match clause (per-shard
top-k + coordinator merge — relied on by the reference at
search.go:92-101), implemented as:

    postings blocks, filtered to the query terms     (parquet scan —
        partition pruning on shard dirs is free; term IN-list pushes
        into row-group stats since blocks are term-sorted)
    → groupBy(shard) applyInPandas(kernel)           (shard-local top-k)
    → global orderBy(score desc, doc_id asc).limit(k)  (tiny merge)

Kernel = vectorized block-max WAND of the MaxScore/essential-lists
family (Turtle & Flood's MaxScore + Ding & Suel's block-max bounds),
exact w.r.t. the exhaustive scorer:

  1. bootstrap threshold θ: exact-score the single highest-impact
     term's postings (pure numpy), take its kth best — single-term
     scores lower-bound full scores, so this θ is valid before
     anything is fully scored;
  2. term-at-a-time candidate generation with a RISING θ (the actual
     MaxScore/BMW loop — r5 bootstrapped θ once and never raised it,
     so dense multi-term queries degraded to exhaustive scoring):
     process lists highest-impact first; per list, skip blocks whose
     upper bound (block_max + sum of all other terms' max impacts)
     < θ, drop doc ids already exact-scored by an earlier list,
     exact-score the new ids over ALL terms (searchsorted lookups),
     then raise θ to the kth-best fully-scored value so far;
  3. early exit: before list i, any still-unscored doc lives only in
     list i or lower-impact lists, so its score is bounded by the
     ascending cumulative impact through i — stop when that bound
     drops below θ (docs tying θ exactly are still kept: strict <);
  4. top-k over the scored pool with (score desc, doc_id asc)
     tie-break. Pruning never changes results: every skipped doc has
     a certified upper bound < θ ≤ the true kth-best score.

Everything inside the kernel is numpy over decoded arrays — no
per-document Python loops.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lighthouse_spark.functions import codec, memo
from lighthouse_spark.operators.scoring import B, K1, idf_py
from lighthouse_spark.sources.store import CompressedIndex

OUT_SCHEMA = "doc_id long, score double"


def _score(tfs: np.ndarray, dls: np.ndarray, idf: float, avgdl: float) -> np.ndarray:
    return idf * (tfs * (K1 + 1.0)) / (tfs + K1 * (1.0 - B + B * dls / avgdl))


def _kernel(
    pdf: pd.DataFrame,
    idf: dict[str, float],
    qtf: dict[str, float],
    avgdl: float,
    k: int,
    tomb: dict[str, np.ndarray],
) -> pd.DataFrame:
    """Shard-local block-max top-k. `pdf` holds this shard's blocks for
    the query terms only. Tombstoned docs (dead postings of each
    source snapshot after incremental updates) are masked immediately
    after decode, BEFORE the bootstrap threshold, so pruning stays
    exact. Block-max bounds are rescaled by max(1, avgdl/enc_avgdl) —
    tfn grows at most linearly in avgdl, so the stored bound stays an
    upper bound under avgdl drift."""
    terms: dict[str, dict] = {}
    for term, g in pdf.groupby("term", sort=True):
        w = idf[term] * qtf[term]
        ids_l: list[np.ndarray] = []
        tfs_l: list[np.ndarray] = []
        dls_l: list[np.ndarray] = []
        bm_l: list[float] = []
        bo_l: list[np.ndarray] = []
        for row in g.itertuples(index=False):
            ids = codec.delta_decode(bytes(row.doc_ids_enc))
            t = tomb.get(row.snapshot)
            live = None
            if t is not None and t.size:
                live = ~np.isin(ids, t)
                if not live.any():
                    continue
                ids = ids[live]
            tfs = codec.varint_decode(bytes(row.tfs_enc)).astype(np.float64)
            dls = codec.varint_decode(bytes(row.dls_enc)).astype(np.float64)
            if live is not None:
                tfs, dls = tfs[live], dls[live]
            bi = len(bm_l)
            safety = max(1.0, avgdl / row.enc_avgdl)
            bm_l.append(row.max_tfn * safety * w)
            ids_l.append(ids)
            tfs_l.append(tfs)
            dls_l.append(dls)
            bo_l.append(np.full(ids.size, bi, dtype=np.int64))
        if not ids_l:
            continue
        ids = np.concatenate(ids_l)
        tfs = np.concatenate(tfs_l)
        dls = np.concatenate(dls_l)
        block_of = np.concatenate(bo_l)
        block_max = np.array(bm_l)
        # re-sort: deltas interleave with base doc-id ranges (no
        # duplicates can survive the per-snapshot masking)
        srt = np.argsort(ids, kind="mergesort")
        ids, tfs, dls, block_of = ids[srt], tfs[srt], dls[srt], block_of[srt]
        terms[term] = {
            "ids": ids,
            "tfs": tfs,
            "dls": dls,
            "w": w,
            "max_impact": float(block_max.max()),
            "block_max": block_max,
            "block_of": block_of,
        }
    if not terms:
        return pd.DataFrame({"doc_id": [], "score": []}).astype(
            {"doc_id": "int64", "score": "float64"}
        )

    order = sorted(terms, key=lambda t: terms[t]["max_impact"])  # ascending
    total_max = sum(terms[t]["max_impact"] for t in order)

    def exact_scores(cand: np.ndarray) -> np.ndarray:
        s = np.zeros(cand.size, dtype=np.float64)
        for t in terms.values():
            if t["ids"].size == 0:
                continue
            pos = np.searchsorted(t["ids"], cand)
            pos_c = np.minimum(pos, t["ids"].size - 1)
            hit = t["ids"][pos_c] == cand
            qtfn = _score(t["tfs"][pos_c], t["dls"][pos_c], 1.0, avgdl)
            s += np.where(hit, t["w"] * qtfn, 0.0)
        return s

    # 1. bootstrap θ from the highest-impact term alone: single-term
    # scores lower-bound full scores, so the kth best here is ≤ the
    # true kth-best full score — a valid pruning threshold from the
    # start (and the only θ available before anything is fully scored).
    best = terms[order[-1]]
    boot = _score(best["tfs"], best["dls"], best["w"], avgdl)
    theta = (
        float(np.partition(boot, boot.size - k)[boot.size - k])
        if boot.size > k
        else 0.0
    )

    # 2. term-at-a-time with rising θ, highest-impact list first.
    desc = order[::-1]
    # suffix[i] = max possible score of a doc absent from lists <i
    suffix = np.cumsum([terms[t]["max_impact"] for t in desc][::-1])[::-1]
    scored_ids = np.zeros(0, dtype=np.int64)
    scored_s = np.zeros(0, dtype=np.float64)
    for i, t in enumerate(desc):
        # 3. early exit: every still-unscored doc either never appeared
        # in lists <i (score ≤ suffix[i]) or was block-skipped there
        # (certified < the θ of that moment ≤ current θ). Strict <
        # keeps docs tying θ exactly.
        if scored_s.size >= k and suffix[i] < theta:
            break
        td = terms[t]
        others = total_max - td["max_impact"]
        keep_blocks = (td["block_max"] + others) >= theta
        cand = (
            td["ids"]
            if keep_blocks.all()
            else td["ids"][keep_blocks[td["block_of"]]]
        )
        if scored_ids.size and cand.size:
            pos = np.searchsorted(scored_ids, cand)
            pos_c = np.minimum(pos, scored_ids.size - 1)
            cand = cand[scored_ids[pos_c] != cand]
        if cand.size == 0:
            continue
        s_new = exact_scores(cand)
        scored_ids = np.concatenate([scored_ids, cand])
        scored_s = np.concatenate([scored_s, s_new])
        srt = np.argsort(scored_ids, kind="mergesort")
        scored_ids, scored_s = scored_ids[srt], scored_s[srt]
        if scored_s.size >= k:
            theta = max(
                theta,
                float(
                    np.partition(scored_s, scored_s.size - k)[scored_s.size - k]
                ),
            )

    # 4. top-k over the fully-scored pool
    if scored_ids.size == 0:
        return pd.DataFrame({"doc_id": [], "score": []}).astype(
            {"doc_id": "int64", "score": "float64"}
        )
    idx = np.lexsort((scored_ids, -scored_s))[:k]
    return pd.DataFrame({"doc_id": scored_ids[idx], "score": scored_s[idx]})


def wand_topk(
    cindex: CompressedIndex,
    field: str,
    terms: list[str],
    k: int = 10,
    boost: float = 1.0,
) -> DataFrame:
    """BM25 top-k via block-max WAND; exact-equivalent to the
    exhaustive DataFrame scorer (tests pin equivalence). A warm query
    is exactly ONE job with zero driver round trips."""
    return memo.get(
        cindex, "wand_plan", field, tuple(terms), k, boost,
        build=lambda: _wand_topk_build(cindex, field, terms, k, boost),
    )


def _wand_topk_build(
    cindex: CompressedIndex,
    field: str,
    terms: list[str],
    k: int,
    boost: float,
) -> DataFrame:
    spark = cindex.spark
    uniq = sorted(set(terms))
    if not uniq:
        return spark.createDataFrame([], OUT_SCHEMA)
    n, avgdl = cindex.corpus_stats().get(field, (0, 1.0))
    dfm = cindex.df_map(field, uniq)
    present = [t for t in uniq if t in dfm]
    if n == 0 or not present:
        return spark.createDataFrame([], OUT_SCHEMA)
    idf = {t: idf_py(dfm[t], n) * boost for t in present}
    from collections import Counter

    counts = Counter(terms)
    qtf = {t: float(counts[t]) for t in present}

    blocks = cindex.postings.filter(
        (F.col("field") == field) & F.col("term").isin(present)
    ).select(
        "shard", "term", "block_id", "n_docs", "doc_ids_enc", "tfs_enc",
        "dls_enc", "max_tfn", "enc_avgdl", "snapshot",
    )
    # tombstones ship as a broadcast — tasks capture only the handle
    tomb_bc = cindex.tombstones_bc()

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return _kernel(pdf, idf, qtf, avgdl, k, tomb_bc.value)

    per_shard = blocks.groupBy("shard").applyInPandas(run, OUT_SCHEMA)
    return per_shard.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)


def exhaustive_topk(
    cindex: CompressedIndex, field: str, terms: list[str], k: int = 10, boost: float = 1.0
) -> DataFrame:
    """Reference scorer over the same compressed blocks (decode all,
    no pruning) — the equivalence baseline for tests."""
    spark = cindex.spark
    uniq = sorted(set(terms))
    if not uniq:
        return spark.createDataFrame([], OUT_SCHEMA)
    n, avgdl = cindex.corpus_stats().get(field, (0, 1.0))
    dfm = cindex.df_map(field, uniq)
    present = [t for t in uniq if t in dfm]
    if n == 0 or not present:
        return spark.createDataFrame([], OUT_SCHEMA)
    idf = {t: idf_py(dfm[t], n) * boost for t in present}
    from collections import Counter

    counts = Counter(terms)
    qtf = {t: float(counts[t]) for t in present}

    blocks = cindex.postings.filter(
        (F.col("field") == field) & F.col("term").isin(present)
    ).select(
        "shard", "term", "block_id", "n_docs", "doc_ids_enc", "tfs_enc",
        "dls_enc", "snapshot",
    )
    tomb_bc = cindex.tombstones_bc()

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        tomb = tomb_bc.value
        ids_all = []
        scores_all = []
        for term, g in pdf.groupby("term"):
            for row in g.itertuples(index=False):
                ids = codec.delta_decode(bytes(row.doc_ids_enc))
                tfs = codec.varint_decode(bytes(row.tfs_enc)).astype(np.float64)
                dls = codec.varint_decode(bytes(row.dls_enc)).astype(np.float64)
                t = tomb.get(row.snapshot)
                if t is not None and t.size:
                    live = ~np.isin(ids, t)
                    ids, tfs, dls = ids[live], tfs[live], dls[live]
                ids_all.append(ids)
                scores_all.append(_score(tfs, dls, idf[term] * qtf[term], avgdl))
        if not ids_all:
            return pd.DataFrame({"doc_id": [], "score": []}).astype(
                {"doc_id": "int64", "score": "float64"}
            )
        ids = np.concatenate(ids_all)
        sc = np.concatenate(scores_all)
        uniq_ids, inv = np.unique(ids, return_inverse=True)
        tot = np.zeros(uniq_ids.size)
        np.add.at(tot, inv, sc)
        idx = np.lexsort((uniq_ids, -tot))[:k]
        return pd.DataFrame({"doc_id": uniq_ids[idx], "score": tot[idx]})

    per_shard = blocks.groupBy("shard").applyInPandas(run, OUT_SCHEMA)
    return per_shard.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
