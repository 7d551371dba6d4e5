"""Block-max WAND top-k over the compressed index.

The query path ES/Lucene executes for every match clause (per-shard
top-k + coordinator merge — relied on by the reference at
search.go:92-101), implemented as:

    postings blocks, filtered to the query terms     (parquet scan —
        partition pruning on shard dirs is free; term IN-list pushes
        into row-group stats since blocks are term-sorted)
    → groupBy(shard) applyInArrow(kernel)            (shard-local top-k)
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

Everything inside the kernel is numpy over the arrays of the store's
one block decoder (store._decode_blocks) — no per-block or
per-document Python loops.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lighthouse_spark.functions import memo
from lighthouse_spark.operators.scoring import B, K1, idf_py
from lighthouse_spark.session import local_frame
from lighthouse_spark.sources.store import CompressedIndex, _decode_blocks

OUT_SCHEMA = "doc_id long, score double"


def _score(tfs: np.ndarray, dls: np.ndarray, idf: float, avgdl: float) -> np.ndarray:
    return idf * (tfs * (K1 + 1.0)) / (tfs + K1 * (1.0 - B + B * dls / avgdl))


def _out(ids: np.ndarray, scores: np.ndarray) -> pa.Table:
    return pa.table(
        {"doc_id": pa.array(ids, pa.int64()), "score": pa.array(scores, pa.float64())}
    )


def _decode_by_term(tbl: pa.Table, tomb: dict[str, np.ndarray]):
    """Decode one shard's query blocks (store._decode_blocks) and sort
    the live postings by (term, doc_id), terms in lexicographic order:
    (ids, tfs, dls, row_of, codes, names) with ``codes`` indexing
    ``names``."""
    ids, tfs, dls, row_of, _, _ = _decode_blocks(tbl, tomb)
    denc = tbl["term"].combine_chunks().dictionary_encode()
    found = denc.dictionary.to_pylist()
    by_name = np.argsort(np.asarray(found, dtype=object))
    rank = np.empty(len(found), dtype=np.int64)
    rank[by_name] = np.arange(len(found))
    codes = rank[denc.indices.to_numpy()][row_of]
    names = [found[i] for i in by_name]
    srt = np.lexsort((ids, codes))
    return (
        ids[srt], tfs[srt].astype(np.float64), dls[srt].astype(np.float64),
        row_of[srt], codes[srt], names,
    )


def _kernel(
    tbl: pa.Table,
    idf: dict[str, float],
    qtf: dict[str, float],
    avgdl: float,
    k: int,
    tomb: dict[str, np.ndarray],
) -> pa.Table:
    """Shard-local block-max top-k. `tbl` holds this shard's blocks for
    the query terms only. Tombstoned docs (dead postings of each
    source snapshot after incremental updates) are masked by the
    decoder, BEFORE the bootstrap threshold, so pruning stays exact;
    a block left with no live posting bounds nothing. Block-max bounds
    are rescaled by max(1, avgdl/enc_avgdl) — tfn grows at most
    linearly in avgdl, so the stored bound stays an upper bound under
    avgdl drift."""
    ids, tfs, dls, row_of, codes, names = _decode_by_term(tbl, tomb)
    max_tfn = tbl["max_tfn"].to_numpy()
    safety = np.maximum(1.0, avgdl / tbl["enc_avgdl"].to_numpy())
    terms: dict[str, dict] = {}
    cuts = np.flatnonzero(np.diff(codes)) + 1
    for lo, hi in zip(np.append(0, cuts), np.append(cuts, ids.size)):
        if hi == lo:
            continue
        name = names[codes[lo]]
        w = idf[name] * qtf[name]
        rows = row_of[lo:hi]
        bound = max_tfn[rows] * safety[rows] * w  # each posting's block bound
        terms[name] = {
            "ids": ids[lo:hi],
            "tfs": tfs[lo:hi],
            "dls": dls[lo:hi],
            "w": w,
            "max_impact": float(bound.max()),
            "bound": bound,
        }
    if not terms:
        return _out([], [])

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
        cand = td["ids"][(td["bound"] + others) >= theta]
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
    idx = np.lexsort((scored_ids, -scored_s))[:k]
    return _out(scored_ids[idx], scored_s[idx])


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


def _per_shard_topk(cindex, field, terms, k, boost, shard_fn) -> DataFrame:
    """The scorers' shared plan over ONE snapshot handle: idf/qtf from
    the live dictionary, the query terms' block rows of ``field``,
    ``shard_fn(tbl, idf, qtf, avgdl, k, tomb)`` per shard
    (groupBy(shard).applyInArrow), then the global (score desc,
    doc_id asc) top-k merge."""
    spark = cindex.spark
    uniq = sorted(set(terms))
    if not uniq:
        return local_frame(spark, [], OUT_SCHEMA)
    n, avgdl = cindex.corpus_stats().get(field, (0, 1.0))
    dfm = cindex.df_map(field, uniq)
    present = [t for t in uniq if t in dfm]
    if n == 0 or not present:
        return local_frame(spark, [], OUT_SCHEMA)
    idf = {t: idf_py(dfm[t], n) * boost for t in present}
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

    def run(tbl):
        return shard_fn(tbl, idf, qtf, avgdl, k, tomb_bc.value)

    per_shard = blocks.groupBy("shard").applyInArrow(run, OUT_SCHEMA)
    return per_shard.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)


def _wand_topk_build(
    cindex: CompressedIndex,
    field: str,
    terms: list[str],
    k: int,
    boost: float,
) -> DataFrame:
    return _per_shard_topk(cindex, field, terms, k, boost, _kernel)


def _exhaustive(tbl, idf, qtf, avgdl, k, tomb) -> pa.Table:
    """Decode every block, score every live posting, no pruning."""
    ids, tfs, dls, _, codes, names = _decode_by_term(tbl, tomb)
    w_of = np.array([idf[t] * qtf[t] for t in names])
    uniq_ids, inv = np.unique(ids, return_inverse=True)
    tot = np.zeros(uniq_ids.size)
    np.add.at(tot, inv, _score(tfs, dls, w_of[codes], avgdl))
    idx = np.lexsort((uniq_ids, -tot))[:k]
    return _out(uniq_ids[idx], tot[idx])


def exhaustive_topk(
    cindex: CompressedIndex, field: str, terms: list[str], k: int = 10, boost: float = 1.0
) -> DataFrame:
    """Reference scorer over the same compressed blocks (decode all,
    no pruning) — the equivalence baseline for tests."""
    return _per_shard_topk(cindex, field, terms, k, boost, _exhaustive)
