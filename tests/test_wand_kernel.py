"""Pure-numpy property tests for the rising-θ MaxScore kernel
(operators/wand._kernel) against a brute-force scorer — no Spark.

The Spark-level suite (test_store_wand, test_bm25) pins wand ≡
exhaustive ≡ DataFrame on realistic corpora; this file stresses the
kernel's pruning logic directly with adversarial randomized postings:
tiny tf/dl integer spaces (forcing score ties at the θ boundary),
dense multi-term overlaps (the bm25_mixed shape where every list is
near-corpus density), k larger than the candidate pool, single-term
queries, and per-snapshot tombstones.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from lighthouse_spark.functions import codec
from lighthouse_spark.operators.scoring import B, K1
from lighthouse_spark.operators.wand import _kernel, _score

BLOCK = 16  # small blocks so block-max skipping has real granularity


def _blocks_for_term(term, ids, tfs, dls, avgdl, snapshot="s0"):
    rows = []
    for b, s in enumerate(range(0, ids.size, BLOCK)):
        e = min(s + BLOCK, ids.size)
        tfn = tfs[s:e] * (K1 + 1.0) / (
            tfs[s:e] + K1 * (1.0 - B + B * dls[s:e] / avgdl)
        )
        rows.append(
            {
                "shard": 0,
                "term": term,
                "block_id": b,
                "n_docs": e - s,
                "doc_ids_enc": codec.delta_encode(ids[s:e]),
                "tfs_enc": codec.varint_encode(tfs[s:e].astype(np.uint64)),
                "dls_enc": codec.varint_encode(dls[s:e].astype(np.uint64)),
                "max_tfn": float(tfn.max()),
                "enc_avgdl": avgdl,
                "snapshot": snapshot,
            }
        )
    return rows


def _brute(postings, idf, qtf, avgdl, k, dead):
    agg: dict[int, float] = {}
    for term, (ids, tfs, dls) in postings.items():
        w = idf[term] * qtf[term]
        sc = _score(tfs.astype(float), dls.astype(float), w, avgdl)
        for d, s in zip(ids.tolist(), sc.tolist()):
            if d in dead:
                continue
            agg[d] = agg.get(d, 0.0) + s
    ranked = sorted(agg.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return ranked


@pytest.mark.parametrize("seed", range(12))
def test_kernel_matches_bruteforce_randomized(seed):
    rng = np.random.default_rng(seed)
    n_docs = int(rng.integers(30, 400))
    n_terms = int(rng.integers(1, 8))
    avgdl = float(rng.integers(5, 40))
    k = int(rng.choice([1, 3, 10, 50, 1000]))
    universe = np.arange(n_docs, dtype=np.int64)

    postings = {}
    rows = []
    for qi in range(n_terms):
        term = f"t{qi}"
        density = float(rng.uniform(0.05, 1.0))  # includes near-full lists
        m = max(1, int(density * n_docs))
        ids = np.sort(rng.choice(universe, size=m, replace=False))
        # tiny integer spaces → heavy score ties at the θ boundary
        tfs = rng.integers(1, 4, size=m).astype(np.int64)
        dls = rng.integers(1, 6, size=m).astype(np.int64) * 5
        postings[term] = (ids, tfs, dls)
        rows.extend(_blocks_for_term(term, ids, tfs, dls, avgdl))

    idf = {t: float(rng.uniform(0.1, 3.0)) for t in postings}
    qtf = {t: float(rng.integers(1, 3)) for t in postings}
    # tombstone a random subset under one snapshot
    dead = set(
        rng.choice(universe, size=int(rng.integers(0, n_docs // 4 + 1)),
                   replace=False).tolist()
    )
    tomb = {"s0": np.array(sorted(dead), dtype=np.int64)}

    out = _kernel(pa.Table.from_pylist(rows), idf, qtf, avgdl, k, tomb)
    got = list(zip(out["doc_id"].to_pylist(), out["score"].to_pylist()))
    want = _brute(postings, idf, qtf, avgdl, k, dead)
    assert [g[0] for g in got] == [w[0] for w in want], f"seed={seed}"
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-12), f"seed={seed} doc={gd}"


def test_kernel_dense_identical_lists_all_ties():
    """Worst case for rising θ: every term posts every doc with the
    SAME tf/dl — every document ties at the exact kth score, so any
    over-eager strict/non-strict pruning flips the doc_id tie-break."""
    n, k, avgdl = 200, 10, 20.0
    ids = np.arange(n, dtype=np.int64)
    tfs = np.full(n, 2, dtype=np.int64)
    dls = np.full(n, 20, dtype=np.int64)
    rows = []
    postings = {}
    for qi in range(6):
        t = f"d{qi}"
        postings[t] = (ids, tfs, dls)
        rows.extend(_blocks_for_term(t, ids, tfs, dls, avgdl))
    idf = {t: 1.3 for t in postings}
    qtf = {t: 1.0 for t in postings}
    out = _kernel(pa.Table.from_pylist(rows), idf, qtf, avgdl, k, {})
    want = _brute(postings, idf, qtf, avgdl, k, set())
    assert out["doc_id"].to_pylist() == [w[0] for w in want] == list(range(k))


def test_kernel_empty_after_tombstones():
    ids = np.arange(5, dtype=np.int64)
    rows = _blocks_for_term(
        "t0", ids, np.ones(5, dtype=np.int64), np.full(5, 10, dtype=np.int64), 10.0
    )
    tomb = {"s0": ids}
    out = _kernel(pa.Table.from_pylist(rows), {"t0": 1.0}, {"t0": 1.0}, 10.0, 5, tomb)
    assert len(out) == 0
    assert out.column_names == ["doc_id", "score"]
