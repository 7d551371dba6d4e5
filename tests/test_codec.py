"""Codec round-trip tests, incl. property-based (hypothesis)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lighthouse_spark.functions import codec


def test_varint_roundtrip_basic():
    vals = np.array([0, 1, 127, 128, 300, 2**32, 2**63, 2**64 - 1], dtype=np.uint64)
    assert (codec.varint_decode(codec.varint_encode(vals)) == vals).all()


def test_varint_empty():
    assert codec.varint_encode(np.array([], dtype=np.uint64)) == b""
    assert codec.varint_decode(b"").size == 0


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
def test_varint_roundtrip_property(xs):
    vals = np.array(xs, dtype=np.uint64)
    out = codec.varint_decode(codec.varint_encode(vals))
    assert out.tolist() == xs


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62), min_size=0, max_size=300, unique=True
    )
)
def test_delta_roundtrip_property(xs):
    ids = np.array(sorted(xs), dtype=np.int64)
    out = codec.delta_decode(codec.delta_encode(ids))
    assert out.tolist() == ids.tolist()


def test_delta_negative_first():
    ids = np.array([-(2**62), -5, 0, 3, 2**61], dtype=np.int64)
    assert (codec.delta_decode(codec.delta_encode(ids)) == ids).all()


def test_positions_roundtrip():
    plists = [np.array([0, 5, 6]), np.array([], dtype=np.int64), np.array([42])]
    buf = codec.encode_positions(plists)
    out = codec.decode_positions(buf, 3)
    for a, b in zip(plists, out):
        assert list(a) == list(b)


def test_compression_is_compact():
    ids = np.arange(0, 100_000, 7, dtype=np.int64)
    raw = ids.nbytes
    enc = len(codec.delta_encode(ids))
    assert enc < raw / 4  # gaps of 7 fit in one byte each


def test_corpus_generator_determinism_pins():
    """The synthetic corpus is part of the oracle surface (bench rank
    identity, fuzzy/trigram fixtures): pin the default-mode content
    bytes (sha256 prefixes) so an accidental change to the generator's
    RNG consumption order can't silently shift every downstream
    number, and pin that rich_identifiers mode (a) leaves the default
    path byte-identical, (b) injects its 30 deterministic uid tokens."""
    import hashlib

    import numpy as np

    from lighthouse_spark.sources.corpus import _gen_batch

    pins = {
        "src/core/shard_0.py": "5cc0cd8db57f09bb",
        "src/net/token_5.py": "31a9eae2a66bdb23",
        "src/query/codec_17.js": "4d7851dbd2b5c04b",
    }
    b = _gen_batch(np.array([0, 5, 17]))
    got = {
        r["path"]: hashlib.sha256(r["content"].encode()).hexdigest()[:16]
        for _, r in b.iterrows()
    }
    assert got == pins
    r1 = _gen_batch(np.array([5]), rich=True).iloc[0]["content"]
    r2 = _gen_batch(np.array([5]), rich=True).iloc[0]["content"]
    assert r1 == r2  # deterministic
    assert sum(1 for t in r1.split() if t.startswith("uid")) == 30


def _reference_blocks(docs, shard_of, block_size, avgdl):
    """Byte-parity oracle for the block encoder, one block at a time
    over the codec primitives: postings sorted by (term, doc_id) per
    (shard, field), cut into runs of ``block_size`` per term, each run
    encoded with delta_encode / varint_encode / encode_positions, plus
    the BM25 block-max tf-normalization."""
    from lighthouse_spark.operators.scoring import B, K1

    groups = {}
    for doc_id, field, dl, terms, tfs, poss in docs:
        for t, tf, ps in zip(terms, tfs, poss):
            groups.setdefault((shard_of(doc_id), field), []).append((t, doc_id, tf, dl, ps))
    want = {}
    for (sh, fld), posts in groups.items():
        posts.sort(key=lambda p: (p[0], p[1]))
        by_term = {}
        for p in posts:
            by_term.setdefault(p[0], []).append(p)
        for term, tp in by_term.items():
            for bid, lo in enumerate(range(0, len(tp), block_size)):
                blk = tp[lo : lo + block_size]
                ids = np.array([p[1] for p in blk], dtype=np.int64)
                tfs = np.array([p[2] for p in blk], dtype=np.int64)
                dls = np.array([p[3] for p in blk], dtype=np.int64)
                tfn = tfs * (K1 + 1.0) / (tfs + K1 * (1.0 - B + B * dls / avgdl))
                want[(sh, fld, term, bid)] = (
                    len(blk),
                    codec.delta_encode(ids),
                    codec.varint_encode(tfs.astype(np.uint64)),
                    codec.varint_encode(dls.astype(np.uint64)),
                    codec.encode_positions([np.array(p[4], dtype=np.int64) for p in blk]),
                    round(float(tfn.max()), 12),
                    int(ids[-1]),
                )
    return want


def test_arrow_block_encoder_matches_reference_encoder():
    """_block_encoder_arrow (the mapInArrow encoder every build, sync
    and compaction path goes through) must produce byte-identical
    block rows to a per-block reference encode over the codec
    primitives — same blocks, same varint payloads, same block-max
    metadata."""
    import pyarrow as pa

    from lighthouse_spark.sources import store as store_mod

    rng = np.random.default_rng(7)
    docs = []
    vocab = [f"t{i:02d}" for i in range(12)] + ["the", "zz"]
    for doc_id in range(80):
        n_terms = int(rng.integers(0, 8))
        terms = sorted(rng.choice(vocab, size=n_terms, replace=False).tolist())
        poss, tfs = [], []
        cur = 0
        for _ in terms:
            k = int(rng.integers(1, 5))
            ps = sorted(rng.choice(np.arange(cur, cur + 40), size=k, replace=False).tolist())
            cur += 40
            poss.append([int(x) for x in ps])
            tfs.append(k)
        dl = int(sum(tfs))
        docs.append((doc_id, "content", dl, terms, tfs, poss))

    n_shards, block_size, avgdl = 4, 8, 17.3
    shard_of = lambda d: hash(("s", d)) % n_shards  # noqa: E731 — any grouping works

    want = _reference_blocks(docs, shard_of, block_size, avgdl)

    # arrow path: per-doc aggregate batch through the mapInArrow encoder
    b = pa.RecordBatch.from_arrays(
        [
            pa.array([d[0] for d in docs], pa.int64()),
            pa.array([shard_of(d[0]) for d in docs], pa.int32()),
            pa.array([d[1] for d in docs], pa.string()),
            pa.array([d[2] for d in docs], pa.int64()),
            pa.array([d[3] for d in docs], pa.list_(pa.string())),
            pa.array([d[4] for d in docs], pa.list_(pa.int32())),
            pa.array([d[5] for d in docs], pa.list_(pa.list_(pa.int32()))),
        ],
        ["doc_id", "shard", "field", "dl", "terms", "tfs", "poss"],
    )
    enc = store_mod._block_encoder_arrow(block_size, {"content": avgdl})
    got = {}
    for out in enc(iter([b])):
        t = out.to_pydict()
        for i in range(out.num_rows):
            got[(t["shard"][i], t["field"][i], t["term"][i], t["block_id"][i])] = (
                t["n_docs"][i], t["doc_ids_enc"][i], t["tfs_enc"][i],
                t["dls_enc"][i], t["positions_enc"][i],
                round(float(t["max_tfn"][i]), 12), t["max_doc_id"][i],
            )
    assert got == want


def test_binary_offsets_overflow_raises():
    """A (shard, field) group whose encoded buffer passes 2^31-1 bytes
    must raise, not wrap the int32 Arrow offsets. Synthetic lengths:
    nothing large is allocated."""
    import pytest

    from lighthouse_spark.sources.store import _binary_offsets

    bounds = np.array([0, 2, 3])
    ok = _binary_offsets(np.array([5, 7, 9], dtype=np.int64), bounds)
    assert ok.dtype == np.int32 and ok.tolist() == [0, 12, 21]
    lens = np.array([2**30, 2**30, 1], dtype=np.int64)  # sums to 2^31 + 1
    with pytest.raises(ValueError, match="overflows int32"):
        _binary_offsets(lens, bounds)


def test_position_slots_walk_and_mismatch():
    """codec.position_slots (shared by decode_positions and the
    compaction merge) locates every posting's count slot, and refuses
    a stream its counts do not span exactly."""
    import pytest

    plists = [np.array([3, 9]), np.array([], dtype=np.int64), np.array([4])]
    flat = codec.varint_decode(codec.encode_positions(plists)).astype(np.int64)
    slots, plens = codec.position_slots(flat, 3)
    assert slots.tolist() == [0, 3, 4] and plens.tolist() == [2, 0, 1]
    with pytest.raises(ValueError, match="length mismatch"):
        codec.position_slots(flat, 2)  # trailing values left over
    with pytest.raises(ValueError, match="length mismatch"):
        codec.position_slots(flat, 4)  # counts run past the end


def _random_block_table(rng, positional):
    """Block rows over three snapshots: ids mix negative and large
    values (zigzag absolutes), blocks of 1-20 postings, and positional
    postings with 0-6 positions each."""
    import pyarrow as pa

    cols = {k: [] for k in ("n_docs", "doc_ids_enc", "tfs_enc", "dls_enc",
                            "positions_enc", "snapshot")}
    blocks = []
    for _ in range(int(rng.integers(5, 15))):
        n = int(rng.integers(1, 21))
        ids = np.sort(rng.choice(np.arange(-(2**40), 2**40, 2**30), n, replace=False))
        tfs = rng.integers(1, 9, n)
        dls = rng.integers(1, 300, n)
        poss = [np.sort(rng.choice(500, int(rng.integers(0, 7)), replace=False))
                for _ in range(n)]
        snap = str(rng.choice(["base", "d1", "d2"]))
        blocks.append((ids, tfs, dls, poss, snap))
        cols["n_docs"].append(n)
        cols["doc_ids_enc"].append(codec.delta_encode(ids))
        cols["tfs_enc"].append(codec.varint_encode(tfs.astype(np.uint64)))
        cols["dls_enc"].append(codec.varint_encode(dls.astype(np.uint64)))
        cols["positions_enc"].append(codec.encode_positions(poss) if positional else None)
        cols["snapshot"].append(snap)
    types = {"n_docs": pa.int32(), "positions_enc": pa.binary(), "snapshot": pa.string()}
    tbl = pa.table({k: pa.array(v, types.get(k, pa.binary())) for k, v in cols.items()})
    return tbl, blocks


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("positional", [True, False])
def test_decode_blocks_matches_per_block_reference(seed, positional):
    """store._decode_blocks, the one block decoder, equals a per-block
    loop over codec.delta_decode / varint_decode / decode_positions
    with per-snapshot np.isin masking — including a tombstone set that
    empties a whole block and postings with no positions."""
    from lighthouse_spark.sources.store import _decode_blocks

    rng = np.random.default_rng(seed)
    tbl, blocks = _random_block_table(rng, positional)
    # one whole block dead in its snapshot, plus random deaths elsewhere
    tomb = {s: set() for s in ("base", "d1", "d2")}
    tomb[blocks[0][4]].update(blocks[0][0].tolist())
    for ids, *_, snap in blocks[1:]:
        tomb[snap].update(rng.choice(ids, int(rng.integers(0, ids.size)), replace=False).tolist())
    tomb = {s: np.array(sorted(v), dtype=np.int64) for s, v in tomb.items()}

    want = {k: [] for k in ("ids", "tfs", "dls", "row_of", "flat", "plens")}
    for r in range(tbl.num_rows):
        ids = codec.delta_decode(tbl["doc_ids_enc"][r].as_py())
        tfs = codec.varint_decode(tbl["tfs_enc"][r].as_py()).astype(np.int64)
        dls = codec.varint_decode(tbl["dls_enc"][r].as_py()).astype(np.int64)
        live = ~np.isin(ids, tomb[tbl["snapshot"][r].as_py()])
        want["ids"] += ids[live].tolist()
        want["tfs"] += tfs[live].tolist()
        want["dls"] += dls[live].tolist()
        want["row_of"] += [r] * int(live.sum())
        if positional:
            poss = codec.decode_positions(tbl["positions_enc"][r].as_py(), ids.size)
            for p, lv in zip(poss, live):
                if lv:
                    want["flat"] += p.tolist()
                    want["plens"].append(p.size)
    assert want["row_of"] and 0 not in want["row_of"]  # block 0 is all dead

    ids, tfs, dls, row_of, flat, plens = _decode_blocks(tbl, tomb)
    assert ids.tolist() == want["ids"]
    assert tfs.tolist() == want["tfs"]
    assert dls.tolist() == want["dls"]
    assert row_of.tolist() == want["row_of"]
    if positional:
        assert flat.tolist() == want["flat"]
        assert plens.tolist() == want["plens"]
        assert 0 in want["plens"]
    else:
        assert flat is None and plens is None
