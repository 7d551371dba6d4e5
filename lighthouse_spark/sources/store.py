"""Persisted compressed index — the engine's on-disk format.

What the ES index directory is to the reference (segments, postings,
norms, doc values — created at /root/reference/app/app.go:54-63 with
the mapping in app/es/index/claims.go), re-expressed as a parquet
layout + JSON manifest:

    <index_dir>/
      manifest.json       schema, analyzer mode, corpus stats, build
                          metrics, snapshot lineage (resumability)
      docs_v_*/           stored fields (doc_id + columns), hash-
                          bucketed by pmod(doc_id, n_buckets); the
                          manifest maps bucket -> current versioned
                          dir, so an incremental MERGE rewrites ONLY
                          the touched buckets (Iceberg's file-level
                          MERGE INTO re-expressed without Iceberg)
      postings/           blocks: (shard, field, term, block_id,
                          n_docs, doc_ids_enc, tfs_enc, dls_enc,
                          [positions_enc], max_tfn, max_doc_id)
                          directory-partitioned by shard
      term_stats/         (field, term, df) range-partitioned+sorted
                          by term → prefix scans prune
      term_stats_delta/   per-snapshot SIGNED df deltas (field, term,
                          df) — the live dictionary is base + deltas
                          summed, so df stays exact across increments
                          without ever decoding postings
      doc_stats/          (doc_id, field, dl)

Layout rationale at 10^12-doc scale:

- **Document-sharded postings** (shard = doc_id mod N), the same
  parallelism axis ES/Lucene uses: every shard holds complete posting
  lists for its doc range, so top-k WAND runs shard-parallel with one
  tiny final merge. Shard count is the scale knob (pick so a shard's
  hot postings fit an executor).
- **Term-frequency skew**: a stopword's postings within one shard are
  bounded by shard size — sharding IS the salting of the global
  posting list (term, bucket=doc_id%N). Additionally the encode step
  partitions by (shard, field) — one encode group per shard-field,
  never one group per term — so no single hot term creates a
  straggler task.
- **Blocks of 128 docs** with per-block max tf-normalization: the
  block-max metadata WAND uses to skip. doc_ids delta-gap+varint;
  tf/dl varint.
- **term_stats range-partitioned by term**: prefix/fuzzy expansion
  scans prune partitions; the df lookup for a query is a tiny
  IN-list scan, broadcast to the WAND tasks.
- **Resumability**: every build/merge appends a lineage entry with
  per-shard row counts + wall time; a crashed job leaves the previous
  manifest intact (writes go to a new snapshot dir, manifest swap is
  last — see `_commit`).
- **Snapshot handles**: a `CompressedIndex` is one committed manifest
  (Elasticsearch's point-in-time reader). Every commit returns a NEW
  handle; rebind it (``engine.cindex = sync.sync(engine.cindex, ...)``
  is an atomic swap). No commit deletes a dir an older snapshot
  reads: compaction lists them as ``retired`` and deletes them
  ``sync._RETAIN_S`` (the 15-minute sync period) later, so a reader
  that reloads the manifest once per period never reads a swept dir.
"""

from __future__ import annotations

import copy
import dataclasses
import json
import os
import time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lighthouse_spark.functions import codec, memo
from lighthouse_spark.operators.scoring import B, K1
from lighthouse_spark.plans.indexer import FieldSpec, InvertedIndex

POSTING_SCHEMA = (
    "shard int, field string, term string, block_id int, n_docs int,"
    " doc_ids_enc binary, tfs_enc binary, dls_enc binary, positions_enc binary,"
    " max_tfn double, max_doc_id long, enc_avgdl double"
)


_BLOCK_COLS = [
    "shard", "field", "term", "block_id", "n_docs", "doc_ids_enc",
    "tfs_enc", "dls_enc", "positions_enc", "max_tfn", "max_doc_id", "enc_avgdl",
]


def _positions_stream(flat: np.ndarray, plens: np.ndarray):
    """Concatenated per-doc [n, p0(abs), gap...] uint64 stream + per-doc
    byte counts after varint encoding — the layout of
    codec.encode_positions, so each block's payload is a byte window
    of one buffer (byte-identical; pinned by test_codec). `flat` is
    every position of every posting concatenated in posting order;
    `plens` the per-posting position counts."""
    n = plens.size
    total = int(plens.sum())
    doc_out_start = np.zeros(n, dtype=np.int64)
    np.cumsum(plens[:-1] + 1, out=doc_out_start[1:])
    stream = np.empty(total + n, dtype=np.uint64)
    stream[doc_out_start] = plens.astype(np.uint64)
    if total:
        d = np.empty(total, dtype=np.int64)
        d[0] = flat[0]
        d[1:] = flat[1:] - flat[:-1]
        doc_flat_start = np.zeros(n, dtype=np.int64)
        np.cumsum(plens[:-1], out=doc_flat_start[1:])
        fs = doc_flat_start[plens > 0]
        d[fs] = flat[fs]  # absolute first position per doc
        val_mask = np.ones(total + n, dtype=bool)
        val_mask[doc_out_start] = False
        stream[val_mask] = d.astype(np.uint64)
    p_buf, p_len = codec.varint_encode_with_lengths(stream)
    doc_bytes = np.add.reduceat(p_len, doc_out_start) if n else np.zeros(0, np.int64)
    return p_buf, doc_bytes


def _binary_offsets(lens: np.ndarray, bounds: np.ndarray) -> np.ndarray:
    """int32 Arrow ``binary`` offsets of the windows between ``bounds``
    (posting indices) over one buffer whose per-posting byte lengths
    are ``lens``. A buffer past 2^31-1 bytes would wrap the int32
    offsets and silently corrupt every later block, so it raises
    instead (shrink the group: more shards)."""
    off = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    if off[-1] > np.iinfo(np.int32).max:
        raise ValueError(
            f"encoded group buffer of {int(off[-1])} bytes overflows int32 "
            "binary offsets; raise n_shards"
        )
    return off[bounds].astype(np.int32)


def _encode_core(
    shard: int,
    field: str,
    ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    codes: np.ndarray,
    uniq,
    avgdl: float,
    block_size: int,
    flat_pos: np.ndarray | None = None,
    plens: np.ndarray | None = None,
):
    """Vectorized block encode of one (shard, field) group from flat
    per-posting arrays in ARBITRARY order: sorts by (term, doc_id),
    terms in lexicographic string order, then varint-encodes every
    block's gaps/tfs/dls/positions in single passes and emits
    per-block binaries as zero-copy offset windows.

    `codes`/`uniq` are a dictionary encoding of the per-posting term
    (any code order); `flat_pos`/`plens` are the concatenated ABSOLUTE
    positions and per-posting counts (None for non-positional fields).
    Shared by the build encoder (_block_encoder_arrow) and the
    compaction merge (_merge_blocks_arrow) so their byte layouts can
    never diverge. Returns one RecordBatch (None for empty input)."""
    import pyarrow as pa

    n = ids.size
    if n == 0:
        return None
    # lexicographic term-string order, whatever the code order
    rank = np.empty(len(uniq), dtype=np.int64)
    rank[np.argsort(np.asarray(uniq, dtype=object))] = np.arange(len(uniq))
    rcodes = rank[codes]
    order = np.lexsort((ids, rcodes))
    ids, tfs, dls, codes = ids[order], tfs[order], dls[order], codes[order]

    new_term = np.ones(n, dtype=bool)
    new_term[1:] = codes[1:] != codes[:-1]
    term_start = np.maximum.accumulate(
        np.where(new_term, np.arange(n), 0)
    )
    rk = np.arange(n) - term_start
    block_start = new_term | (rk % block_size == 0)
    starts = np.flatnonzero(block_start)
    ends = np.append(starts[1:], n)
    nb = starts.size

    diffs = np.zeros(n, dtype=np.uint64)
    if n > 1:
        diffs[1:] = (ids[1:] - ids[:-1]).astype(np.uint64)
    gaps = np.where(block_start, codec.zigzag_encode(ids), diffs)
    id_buf, id_len = codec.varint_encode_with_lengths(gaps)
    tf_buf, tf_len = codec.varint_encode_with_lengths(tfs.astype(np.uint64))
    dl_buf, dl_len = codec.varint_encode_with_lengths(dls.astype(np.uint64))

    bounds = np.append(starts, n)

    def bin_col(buf, lens):
        return pa.Array.from_buffers(
            pa.binary(), nb,
            [None, pa.py_buffer(_binary_offsets(lens, bounds)), pa.py_buffer(buf)],
        )

    tfn = tfs * (K1 + 1.0) / (tfs + K1 * (1.0 - B + B * dls / avgdl))
    max_tfn = np.maximum.reduceat(tfn, starts)

    if flat_pos is not None:
        # gather position segments into sorted posting order
        plens_s = plens[order]
        seg_start = np.zeros(n, dtype=np.int64)
        np.cumsum(plens[:-1], out=seg_start[1:])
        total = int(plens_s.sum())
        if total:
            out_base = np.zeros(n, dtype=np.int64)
            np.cumsum(plens_s[:-1], out=out_base[1:])
            gather = (
                np.repeat(seg_start[order], plens_s)
                + np.arange(total)
                - np.repeat(out_base, plens_s)
            )
            flat_sorted = flat_pos[gather]
        else:
            flat_sorted = np.zeros(0, dtype=np.int64)
        pos_col = bin_col(*_positions_stream(flat_sorted, plens_s))
    else:
        pos_col = pa.nulls(nb, pa.binary())

    return pa.RecordBatch.from_arrays(
        [
            pa.array(np.full(nb, shard, dtype=np.int32)),
            pa.array([field] * nb, pa.string()),
            uniq.take(pa.array(codes[starts])),
            pa.array((rk[starts] // block_size).astype(np.int32)),
            pa.array((ends - starts).astype(np.int32)),
            bin_col(id_buf, id_len),
            bin_col(tf_buf, tf_len),
            bin_col(dl_buf, dl_len),
            pos_col,
            pa.array(max_tfn),
            pa.array(ids[ends - 1]),
            pa.array(np.full(nb, avgdl)),
        ],
        _BLOCK_COLS,
    )


def _block_encoder_arrow(block_size: int, avgdl_map: dict[str, float]):
    """mapInArrow encoder: per-doc aggregate rows (doc_id, field, dl,
    terms, tfs, poss, shard), partitioned by (shard, field), -> encoded
    POSTING_SCHEMA block rows.

    The shuffle moves ONE row per doc (dl once per doc, not per
    posting), the explode happens in numpy inside the task, and the
    per-block binary slices are zero-copy offset windows over the
    single varint buffer (see _encode_core). Memory per task: the
    task holds EVERY (shard, field) group hashed to its partition at
    once (n_shards x n_fields groups hash over the shuffle partitions,
    so one task can get several, even when partitions outnumber
    groups), then encodes them one group at a time. More shards shrink
    each group; they do not cap how many groups share a task. Output
    rows are emitted sorted by (field, term, block_id) within each
    shard, so the writer needs no extra repartition/sort: term-sorted
    row groups keep the IN-list scan pruning identical to the old
    layout."""
    import pyarrow as pa

    def enc(batches):
        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        tbl = pa.Table.from_batches(batches).combine_chunks()
        shard_r = tbl["shard"].to_numpy()
        field_r = tbl["field"].to_pandas().to_numpy()
        # distinct (shard, field) groups, processed in sorted order so
        # each output file stays (field, term)-sorted
        keys = sorted(
            {(int(s), str(f)) for s, f in zip(shard_r, field_r)}
        )
        terms_c = tbl["terms"].combine_chunks()
        tfs_c = tbl["tfs"].combine_chunks()
        poss_c = tbl["poss"].combine_chunks()
        ids_c = tbl["doc_id"].to_numpy().astype(np.int64)
        dls_c = tbl["dl"].to_numpy().astype(np.int64)
        for shard, field in keys:
            rmask = (shard_r == shard) & (field_r == field)
            ridx = np.flatnonzero(rmask)
            take = pa.array(ridx)
            g_terms = terms_c.take(take)
            g_tfs = tfs_c.take(take)
            g_ids = ids_c[ridx]
            g_dls = dls_c[ridx]
            k = np.diff(g_terms.offsets.to_numpy())
            n = int(k.sum())
            if n == 0:
                continue
            row_of = np.repeat(np.arange(len(ridx), dtype=np.int64), k)
            ids = g_ids[row_of]
            dls = g_dls[row_of]
            tfs = g_tfs.values.to_numpy().astype(np.int64)
            denc = g_terms.values.dictionary_encode()
            codes = denc.indices.to_numpy().astype(np.int64)
            uniq = denc.dictionary

            # a field is entirely positional or not, so a group's poss
            # column is either all-null or fully populated
            g_poss = poss_c.take(take)
            if g_poss.null_count == 0:
                flat_lists = g_poss.flatten()  # one list per posting
                plens_all = np.diff(flat_lists.offsets.to_numpy())
                flat_all = flat_lists.values.to_numpy().astype(np.int64)
            else:
                plens_all = None
                flat_all = None

            batch = _encode_core(
                shard, field, ids, tfs, dls, codes, uniq,
                float(avgdl_map.get(field, 1.0)), block_size,
                flat_all, plens_all,
            )
            if batch is not None:
                yield batch

    return enc


def _agg_blocks_arrow(
    aggs: list[DataFrame],
    n_shards: int,
    block_size: int,
    avgdl_map: dict[str, float],
) -> DataFrame:
    """Per-doc aggregate frames (one per field) -> encoded block rows
    with ONE doc-level shuffle (guide §8: decide/move with the per-doc
    proxy rows; the old path exploded to per-posting rows first, so the
    shuffle carried dl and doc_id once per POSTING plus per-row
    overhead, then a second exchange repartitioned the encoded
    blocks)."""
    u = _agg_union(aggs).withColumn(
        "shard", F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int")
    )
    return u.repartition("shard", "field").mapInArrow(
        _block_encoder_arrow(block_size, dict(avgdl_map)), POSTING_SCHEMA
    )


def _agg_union(aggs: list[DataFrame]) -> DataFrame:
    """Per-field per-doc aggregate frames as ONE (doc_id, field, dl,
    terms, tfs, poss) frame; poss is null for non-positional fields."""
    frames = []
    for a in aggs:
        cols = [F.col(c) for c in ("doc_id", "field", "dl", "terms", "tfs")]
        if "poss" in a.columns:
            frames.append(a.select(*cols, F.col("poss")))
        else:
            frames.append(
                a.select(*cols, F.lit(None).cast("array<array<int>>").alias("poss"))
            )
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f)
    return u


def _merge_blocks_arrow(block_size: int, avgdl_map: dict[str, float], tomb_bc):
    """mapInArrow compaction merge: encoded base+delta block rows
    (POSTING_SCHEMA + snapshot), partitioned by (shard, field), ->
    clean re-encoded block rows for the live corpus.

    Each column of a whole (shard, field) group decodes in
    ONE vectorized varint pass over the concatenated block buffers
    (doc ids via a segmented cumsum with per-block zigzag absolutes),
    dead docs mask per source snapshot in numpy, and the re-encode is
    the SAME _encode_core the build encoder uses — so a compacted
    block's bytes provably match a from-scratch build of the live
    corpus (pinned by the sync suite's compact≡rebuild checks). The
    only per-posting Python work left is the position count-slot walk
    (codec.position_slots), which touches one int per POSTING, not per
    position. Rows leave sorted by (field, term, block_id) per shard,
    so compaction needs no second exchange, matching the build writer.
    Memory per task follows _block_encoder_arrow's contract: every
    (shard, field) group hashed to the partition, combined at once —
    here as encoded base+delta blocks plus one group's decoded arrays
    at a time."""
    import pyarrow as pa

    def merge(batches):
        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        tomb = tomb_bc.value if tomb_bc is not None else {}
        tbl = pa.Table.from_batches(batches).combine_chunks()
        shard_r = tbl["shard"].to_numpy()
        field_r = tbl["field"].to_pandas().to_numpy()
        keys = sorted({(int(s), str(f)) for s, f in zip(shard_r, field_r)})
        nd_c = tbl["n_docs"].to_numpy().astype(np.int64)
        snap_c = tbl["snapshot"].to_pandas().to_numpy()

        def concat_bin(col) -> bytes:
            arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
            return b"".join(m if m is not None else b"" for m in arr.to_pylist())

        for shard, field in keys:
            ridx = np.flatnonzero((shard_r == shard) & (field_r == field))
            take = pa.array(ridx)
            g_nd = nd_c[ridx]
            n = int(g_nd.sum())
            if n == 0:
                continue
            bs_idx = np.zeros(g_nd.size, dtype=np.int64)
            np.cumsum(g_nd[:-1], out=bs_idx[1:])

            # ---- doc ids: one varint pass + segmented cumsum with the
            # per-block zigzag absolute at each block start
            gaps = codec.varint_decode(concat_bin(tbl["doc_ids_enc"].take(take)))
            abs0 = codec.zigzag_decode(gaps[bs_idx])
            t = gaps.astype(np.int64)
            t[bs_idx] = 0
            c = np.cumsum(t)
            ids = c - np.repeat(c[bs_idx], g_nd) + np.repeat(abs0, g_nd)
            tfs = codec.varint_decode(
                concat_bin(tbl["tfs_enc"].take(take))
            ).astype(np.int64)
            dls = codec.varint_decode(
                concat_bin(tbl["dls_enc"].take(take))
            ).astype(np.int64)

            # ---- per-posting term codes: dictionary-encode the block
            # terms, repeat per block's doc count
            g_terms = tbl["term"].take(take).combine_chunks()
            denc = g_terms.dictionary_encode()
            codes = np.repeat(denc.indices.to_numpy().astype(np.int64), g_nd)
            uniq = denc.dictionary

            # ---- positions: decode the concatenated [count, p0, gap..]
            # streams once; the count-slot walk yields per-posting value
            # segments, gaps -> absolutes via one segmented cumsum
            g_pos = tbl["positions_enc"].take(take).combine_chunks()
            if g_pos.null_count == 0:
                flat = codec.varint_decode(concat_bin(g_pos)).astype(np.int64)
                slots, plens = codec.position_slots(flat, n)
                vmask = np.ones(flat.size, dtype=bool)
                vmask[slots] = False
                d = flat[vmask]  # per-posting [p0_abs, gap...] segments
                seg = np.zeros(n, dtype=np.int64)
                np.cumsum(plens[:-1], out=seg[1:])
                off = np.cumsum(d)
                nz = plens > 0
                base_vals = np.zeros(n, dtype=np.int64)
                base_vals[nz] = off[seg[nz]] - d[seg[nz]]
                flat_abs = off - np.repeat(base_vals, plens)
            elif g_pos.null_count == len(g_pos):
                flat_abs = None
                plens = None
            else:
                raise ValueError(
                    f"mixed positional/non-positional blocks in field {field!r}"
                )

            # ---- mask dead docs per source snapshot (Lucene live-docs)
            g_snap = snap_c[ridx]
            keep = np.ones(n, dtype=bool)
            for sname in set(g_snap):
                dead = tomb.get(sname)
                if dead is None or not np.asarray(dead).size:
                    continue
                sel = np.repeat(g_snap == sname, g_nd)
                keep[sel] = ~np.isin(ids[sel], np.asarray(dead, dtype=np.int64))
            if not keep.all():
                if flat_abs is not None:
                    flat_abs = flat_abs[np.repeat(keep, plens)]
                    plens = plens[keep]
                ids, tfs, dls, codes = ids[keep], tfs[keep], dls[keep], codes[keep]
                if ids.size == 0:
                    continue

            batch = _encode_core(
                shard, field, ids, tfs, dls, codes, uniq,
                float(avgdl_map.get(field, 1.0)), block_size,
                flat_abs, plens,
            )
            if batch is not None:
                yield batch

    return merge


@dataclasses.dataclass(frozen=True, eq=False)
class CompressedIndex:
    """Immutable handle over one committed snapshot of a persisted
    index directory (base + deltas). Hashes by identity; its memo
    (functions/memo) lives and dies with it."""

    path: str
    spark: SparkSession
    manifest: dict

    @property
    def postings(self) -> DataFrame:
        """Base blocks unioned with any incremental delta blocks, each
        tagged with its source snapshot.

        Stale blocks for updated/deleted docs remain in their source
        until compaction; the WAND kernel masks them via the
        PER-SNAPSHOT tombstone sets (Lucene's per-segment live-docs
        bitset analogue — a doc re-upserted in snapshot j is dead in
        base and in every delta < j, alive in j)."""

        def build():
            base = self.spark.read.parquet(self.dir_of("postings")).withColumn(
                "snapshot", F.lit("base")
            )
            for snap in self.manifest.get("deltas", []):
                d = self.spark.read.parquet(
                    f"{self.path}/postings_delta/{snap}"
                ).withColumn("snapshot", F.lit(snap))
                base = base.unionByName(d)
            return base

        return memo.get(self, "postings", build=build)

    def _next(self, edit) -> "CompressedIndex":
        """Commit ``edit`` applied to a deep copy of this handle's
        manifest; return the new handle. This one is left unchanged and
        its tombstone broadcast leaves the executors (a running job
        re-fetches it from the driver)."""
        man = copy.deepcopy(self.manifest)
        edit(man)
        _commit(self.path, man)
        bc = memo.peek(self, "tombstones_bc")
        if bc is not None:
            bc.unpersist(blocking=False)
        return dataclasses.replace(self, manifest=man)

    def dir_of(self, kind: str) -> str:
        """This snapshot's versioned dir of a table. Every rewrite gets
        a fresh `<kind>_v_<snap>` dir and a manifest pointer flip
        (Iceberg-style): no dir is overwritten in place, a crashed
        writer never corrupts the committed version, and a superseded
        dir outlives its readers (retention, module docstring)."""
        d = self.manifest.get("dirs", {}).get(kind, kind)
        return f"{self.path}/{d}"

    @property
    def docs(self) -> DataFrame:
        def build():
            bm = self.manifest.get("docs_buckets")
            if bm:
                paths = [
                    f"{self.path}/{d}"
                    for _, d in sorted(bm.items(), key=lambda kv: int(kv[0]))
                ]
                return self.spark.read.parquet(*paths)
            return self.spark.read.parquet(self.dir_of("docs"))

        return memo.get(self, "docs", build=build)

    @property
    def term_stats(self) -> DataFrame:
        """The LIVE term dictionary: base df + per-snapshot signed df
        deltas, summed. Exact across incremental upserts/deletes.

        The aggregate only materializes when deltas exist, and callers
        always filter by (field, term) / term ranges — grouping-key
        predicates push below the aggregate, so a query's dictionary
        lookup shuffles only its own terms, never the vocabulary."""
        def build():
            base = self.spark.read.parquet(self.dir_of("term_stats"))
            snaps = self.manifest.get("ts_deltas", [])
            if not snaps:
                return base
            u = base
            for snap in snaps:
                u = u.unionByName(
                    self.spark.read.parquet(f"{self.path}/term_stats_delta/{snap}")
                )
            return (
                u.groupBy("field", "term")
                .agg(F.sum("df").alias("df"))
                .filter(F.col("df") > 0)
            )

        return memo.get(self, "term_stats", build=build)

    def save_term_dict(self, pfx_len: int = 3) -> "CompressedIndex":
        """Persist the FUZZY dictionary: the live term_stats view
        written ``partitionBy(field, pfx)`` with pfx = the term's
        first ``pfx_len`` chars.

        Why a second (tiny) copy of the dictionary: AUTO d=2 fuzzy
        expansion's sound prune unit is the (d+1)=3-char prefix class
        set (operators/expand.lev_prefix_classes), which is too large
        (~3.7k classes) to push as a StringStartsWith OR into the
        term-sorted layout. Against THIS layout the classes become a
        literal IN-list on the ``pfx`` partition column — static
        partition pruning at planning time, so a d=2 expansion scans
        only the live ~8% of prefix partitions instead of the whole
        length band. The manifest records exactly which term_stats
        state was folded in; `term_dict()` serves base+later-deltas
        live-exact and returns None (band fallback) once the base
        dictionary itself is rewritten (compaction). Returns the new
        handle."""
        d = self._write_term_dict(pfx_len)
        return self._next(lambda man: _set_term_dict(man, d, pfx_len))

    def _write_term_dict(self, pfx_len: int) -> str:
        """Write the fuzzy dictionary dir, uncommitted; returns it."""
        d = f"term_dict_v_{uuid.uuid4().hex[:12]}"
        (
            self.term_stats.withColumn(
                "pfx", F.substring("term", 1, int(pfx_len))
            )
            .repartition("field", "pfx")
            .write.partitionBy("field", "pfx")
            .parquet(f"{self.path}/{d}")
        )
        return d

    def term_dict(self) -> tuple[DataFrame, int] | None:
        """The LIVE (field, pfx)-partitioned fuzzy dictionary as
        (frame[field, term, df, pfx], pfx_len), or None when never
        saved or invalidated by a base-dictionary rewrite.

        Deltas appended AFTER the save are folded in exactly like the
        term_stats view (signed df sums, df>0); the delta legs are
        per-snapshot churn, tiny next to the pruned base scan."""
        man = self.manifest
        d = man.get("dirs", {}).get("term_dict")
        if not d:
            return None
        rec = man.get("term_dict_for", {})
        if rec.get("term_stats") != man.get("dirs", {}).get("term_stats", "term_stats"):
            return None  # base dictionary rewritten since the save
        folded = list(rec.get("ts_deltas", []))
        cur = list(man.get("ts_deltas", []))
        if cur[: len(folded)] != folded:
            return None
        pfx_len = int(man.get("term_dict_pfx_len", 3))

        def build():
            # pfx cast to string: partition-column type inference reads
            # an all-digit-prefix dictionary's pfx as int, which breaks
            # startswith() class predicates AND the union with the
            # deltas' substring()-built string pfx. Cast keeps
            # partition pruning (pruning evaluates deterministic
            # predicates over partition values).
            base = self.spark.read.parquet(f"{self.path}/{d}").withColumn(
                "pfx", F.col("pfx").cast("string")
            )
            extra = cur[len(folded):]
            if not extra:
                return base
            u = base
            for snap in extra:
                u = u.unionByName(
                    self.spark.read.parquet(f"{self.path}/term_stats_delta/{snap}")
                    .withColumn("pfx", F.substring("term", 1, pfx_len))
                )
            return (
                u.groupBy("field", "pfx", "term")
                .agg(F.sum("df").alias("df"))
                .filter(F.col("df") > 0)
                .select("field", "term", "df", "pfx")
            )

        return memo.get(self, "term_dict", build=build), pfx_len

    def _docs_state(self) -> dict:
        return _docs_state_of(self.manifest)

    def save_trigram(self, text_col: str) -> "CompressedIndex":
        """Persist the character-trigram index over ``text_col`` of the
        docs table (operators/trigram.py): substring/regex queries get
        rarest-k gram candidate pruning instead of a full stored-field
        scan — the scale path for the reference's disabled wildcard
        clauses (query.go:39-41). Recorded against the exact docs state
        it was built from; apply_incremental maintains it with
        churn-proportional gram deltas (see trigram_index), and any
        docs rewrite that does NOT go through that path invalidates it
        honestly (a stale index would silently miss fresh docs). A
        re-save folds all deltas into a fresh base. Returns the new
        handle."""
        from ..operators import trigram as _tri

        d = f"trigram_{text_col}_v_{uuid.uuid4().hex[:12]}"
        id_col = self.manifest["doc_id_col"]
        postings, _ = _tri.build_trigram_index(self.docs, id_col, text_col)
        _tri.save_trigram_index(postings, f"{self.path}/{d}", id_col)
        return self._next(lambda man: _set_trigram(man, text_col, d))

    def fold_trigram(self, text_col: str) -> "CompressedIndex":
        """Fold pending trigram deltas into a fresh base; returns the new
        handle (this one when the index is absent or invalidated)."""
        d = self._write_trigram_fold(text_col)
        return self if d is None else self._next(lambda man: _set_trigram(man, text_col, d))

    def _write_trigram_fold(self, text_col: str) -> str | None:
        """Write a fresh gram base FROM THE LIVE MASKED VIEW — a read of
        the existing base + churn-bounded deltas, never a re-scan/
        re-explode of the corpus text (compaction's no-re-tokenize
        contract). Uncommitted; returns the dir, None when invalid."""
        idx = self.trigram_index(text_col)
        if idx is None:
            return None
        from ..operators import trigram as _tri

        d = f"trigram_{text_col}_v_{uuid.uuid4().hex[:12]}"
        id_col = self.manifest["doc_id_col"]
        _tri.save_trigram_index(
            idx[0].select("gram", id_col), f"{self.path}/{d}", id_col
        )
        return d

    def trigram_index(self, text_col: str):
        """Live ``(postings, stats)`` for ``text_col``, or None when
        never saved or invalidated by a docs rewrite outside the
        incremental path (callers fall back to the verify-only scan —
        same results, unpruned).

        Delta serving mirrors the term_stats view: the base is masked
        to ids touched by ANY later batch, each delta to ids touched
        by LATER batches only (so a twice-updated doc serves only its
        newest grams and a deleted doc serves none), and stats are
        derived from the masked view — exact under churn. Query-time
        gram/pfx predicates push below the union and the stats
        aggregate, so a lookup scans the pruned base partitions plus
        the (churn-bounded) deltas, never the vocabulary."""
        man = self.manifest
        d = man.get("dirs", {}).get(f"trigram_{text_col}")
        if not d:
            return None
        if man.get("trigram_for", {}).get(text_col) != self._docs_state():
            return None
        recs = list(man.get("trigram_deltas", {}).get(text_col, []))
        id_col = man["doc_id_col"]

        def build():
            from .sync import _ids_frame  # lazy: sync imports store

            def touched_frame(r):
                """Per-batch touched-id set as a (small, churn-bounded)
                DataFrame: a parquet SIDECAR referenced by snap
                (ADVICE r4 — the manifest JSON never carries the ids),
                or the legacy inline list for old manifests."""
                if r.get("touched_ref"):
                    return self.spark.read.parquet(
                        f"{self.path}/touched_ids/{r['touched_ref']}"
                    )
                ids = [int(i) for i in r.get("touched", [])]
                return _ids_frame(ids, self.spark) if ids else None

            def mask(fr, frames):
                """Drop rows whose id is in any of ``frames`` via ONE
                broadcast anti-join — the ids never materialize on the
                driver, so a million-id catch-up batch costs a small
                broadcast, not driver memory + plan literals."""
                frames = [f for f in frames if f is not None]
                if not frames:
                    return fr
                u = frames[0]
                for f in frames[1:]:
                    u = u.unionByName(f)
                return fr.join(
                    F.broadcast(u.distinct()),
                    F.col(id_col) == F.col("_fid"),
                    "left_anti",
                )

            # pfx cast to string: partition-column type inference makes
            # an all-digit gram corpus (numeric field) read pfx as int,
            # which cannot union with the deltas' substring()-built
            # string pfx. The cast keeps partition pruning — pruning
            # evaluates deterministic predicates over partition values.
            cols = ["gram", id_col, F.col("pfx").cast("string").alias("pfx")]
            base = self.spark.read.parquet(f"{self.path}/{d}/postings").select(*cols)
            touched = [touched_frame(r) for r in recs]
            legs = [mask(base, touched)]
            for i, r in enumerate(recs):
                if not r.get("has_rows"):
                    continue
                fr = self.spark.read.parquet(
                    f"{self.path}/trigram_delta/{text_col}/{r['snap']}"
                ).select(*cols)
                legs.append(mask(fr, touched[i + 1 :]))
            post = legs[0]
            for leg in legs[1:]:
                post = post.unionByName(leg)
            if recs:
                stats = post.groupBy("pfx", "gram").agg(
                    F.count(F.lit(1)).alias("df")
                )
            else:
                stats = self.spark.read.parquet(f"{self.path}/{d}/stats")
            return post, stats

        return memo.get(self, f"trigram_{text_col}", build=build)

    @property
    def doc_stats(self) -> DataFrame:
        def build():
            base = self.spark.read.parquet(self.dir_of("doc_stats"))
            for snap in self.manifest.get("deltas", []):
                d = self.spark.read.parquet(f"{self.path}/doc_stats_delta/{snap}")
                base = base.unionByName(d)
            return base

        return memo.get(self, "doc_stats", build=build)

    def flat_view_terms(
        self, terms: list[str], fields: list[str] | None = None
    ) -> InvertedIndex:
        """Multi-field generalization of flat_view: decode the blocks
        of ``terms`` across ``fields`` (default: every indexed field).
        The composite engine runs over this — see
        api.engine.search_over_store for how the request's full term
        universe (query + compressed + channel + fuzzy expansions) is
        assembled before the decode."""
        return self._flat_view_impl(terms, fields)

    def flat_view(self, field: str, terms: list[str]) -> InvertedIndex:
        return self._flat_view_impl(terms, [field])

    def _flat_view_impl(
        self, terms: list[str], fields: list[str] | None
    ) -> InvertedIndex:
        """An InvertedIndex-shaped adapter over the PERSISTED store for
        one query's terms: ``postings`` is the decoded flat frame
        (field, term, doc_id, tf, dl, positions) produced by a
        mapInPandas decode of ONLY those terms' blocks (the term
        IN-list pushes to the block scan; parquet prunes row groups on
        the term-sorted layout), tombstone-masked per source snapshot
        exactly as the WAND kernel masks them.

        This is the bridge that lets every flat-index operator —
        search.phrase (incl. Lucene-exact sloppy and repeat groups),
        match_terms, the fused engine specs — run DIRECTLY against the
        compressed serving index, instead of requiring a flat rebuild
        of the corpus: the Lucene analogue is reading positions from
        the .pos file for the query's terms only. Cost is O(query
        terms' postings), never corpus-shaped; term_stats/corpus
        scalars come from the store's live views (exact under churn).
        """
        man = self.manifest
        uniq = sorted(set(terms))
        fpred = (
            F.col("field").isin(list(fields)) if fields is not None else F.lit(True)
        )
        blocks = self.postings.filter(fpred & F.col("term").isin(uniq))
        tomb_bc = self.tombstones_bc()
        from lighthouse_spark.functions import codec as _codec

        def dec(batches):
            tomb = tomb_bc.value
            for pdf in batches:
                outs = []
                for row in pdf.itertuples(index=False):
                    ids = _codec.delta_decode(bytes(row.doc_ids_enc))
                    tfs = _codec.varint_decode(bytes(row.tfs_enc)).astype(np.int64)
                    dls = _codec.varint_decode(bytes(row.dls_enc)).astype(np.int64)
                    if row.positions_enc is not None:
                        poss = _codec.decode_positions(
                            bytes(row.positions_enc), ids.size
                        )
                    else:
                        poss = [None] * ids.size
                    t = tomb.get(row.snapshot)
                    if t is not None and t.size:
                        live = ~np.isin(ids, t)
                        if not live.any():
                            continue
                        ids, tfs, dls = ids[live], tfs[live], dls[live]
                        poss = [p for p, lv in zip(poss, live) if lv]
                    outs.append(
                        pd.DataFrame(
                            {
                                "field": row.field,
                                "term": row.term,
                                "doc_id": ids,
                                "tf": tfs,
                                "dl": dls,
                                "positions": [
                                    None if p is None else p.astype(np.int32)
                                    for p in poss
                                ],
                            }
                        )
                    )
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        decoded = blocks.mapInPandas(
            dec,
            "field string, term string, doc_id long, tf long, dl long,"
            " positions array<int>",
        )
        fd = man["fields"]
        fields = {
            k: (
                FieldSpec(v["column"], positions=bool(v.get("positions")))
                if isinstance(v, dict)
                else FieldSpec(v[0], positions=bool(v[1]))
            )
            for k, v in fd.items()
        }
        view = InvertedIndex(
            docs=self.docs,
            postings=decoded,
            term_stats=self.term_stats,
            doc_stats=self.doc_stats,
            fields=fields,
            doc_id_col=man["doc_id_col"],
            mode=man.get("analyzer_mode", man.get("mode", "simple")),
        )
        view._corpus = self.corpus_stats()
        return view

    def tombstones(self) -> dict[str, np.ndarray]:
        """snapshot -> doc ids dead IN THAT SOURCE (updated/deleted).
        Bounded by churn between compactions."""
        t = self.manifest.get("tombstones", {})
        return {k: np.array(sorted(v), dtype=np.int64) for k, v in t.items() if v}

    def tombstones_bc(self):
        """Tombstone sets as a Spark BROADCAST, one per handle.

        Query kernels capture the broadcast handle, not the arrays —
        at 100x churn the sets would otherwise ride in every task
        closure (a per-task driver->executor copy and a task-size
        bomb); a broadcast ships once per executor and is torrent-
        distributed. The commit that supersedes this handle releases
        the executor copies (`_next`)."""
        return memo.get(
            self, "tombstones_bc",
            build=lambda: self.spark.sparkContext.broadcast(self.tombstones()),
        )

    def corpus_stats(self) -> dict[str, tuple[int, float]]:
        """(n_docs, avgdl) per field — maintained EXACTLY across
        incremental updates via (n_docs, total_dl) bookkeeping."""
        out = {}
        for f, v in self.manifest["corpus"].items():
            n = int(v["n_docs"])
            if "total_dl" in v:
                out[f] = (n, float(v["total_dl"]) / n if n else 1.0)
            else:
                out[f] = (n, float(v["avgdl"]))
        return out

    def df_map(self, field: str, terms: list[str]) -> dict[str, int]:
        """Document frequency for a small term set — exact with or
        without pending deltas, via the live term_stats view (base df +
        per-snapshot signed df deltas maintained at merge time). Never
        decodes posting blocks on the driver: the scan is an IN-list
        over the dictionary only. Absent terms are memoized as 0, so a
        WARM query pays zero dictionary jobs."""
        uniq = sorted(set(terms))
        if not uniq:
            return {}
        fcache = memo.get(self, "df_map", field, build=dict)
        missing = [t for t in uniq if t not in fcache]
        if missing:
            rows = (
                self.term_stats.filter(
                    (F.col("field") == field) & F.col("term").isin(missing)
                )
                .select("term", "df")
                .collect()
            )
            got = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                fcache[t] = got.get(t, 0)
        return {t: fcache[t] for t in uniq if fcache[t] > 0}


def save_index(
    index: InvertedIndex,
    path: str,
    n_shards: int = 8,
    block_size: int = codec.BLOCK_SIZE,
    term_partitions: int | None = None,
    n_buckets: int = 16,
    docs_sort_col: str | None = None,
) -> CompressedIndex:
    """Build + persist the compressed layout from a logical index.

    The index must carry its per-doc aggregates
    (``build_index(..., cache_agg=True)``, as ``build_and_save`` does):
    blocks, doc_stats and the term dictionary all derive from them.
    One shuffle to (shard, field) groups for encoding; one range
    shuffle for the term dictionary. Lineage + metrics recorded in
    manifest.json; the manifest is written LAST so a crashed build
    never corrupts a previously-committed index (resume = rerun, the
    snapshot dirs are content-addressed by snapshot id).

    ``docs_sort_col``: optional secondary-lookup key (e.g. claim_id
    for the /search related_to + MLT doc lookup). Docs buckets are
    written sorted by it, so a point lookup's pushed EqualTo filter
    skips row groups via parquet min/max stats instead of decoding
    every bucket page (VERDICT r3 wrong #3: the lookup is a full scan
    without a sorted layout). Recorded in the manifest; incremental
    bucket rewrites preserve the sort.
    """
    manifest = _write_snapshot(
        index, path, n_shards, block_size, term_partitions, n_buckets,
        docs_sort_col,
    )
    _commit(path, manifest)
    return CompressedIndex(path=path, spark=index.spark, manifest=manifest)


def _write_snapshot(
    index: InvertedIndex,
    path: str,
    n_shards: int,
    block_size: int,
    term_partitions: int | None,
    n_buckets: int,
    docs_sort_col: str | None = None,
    op: str = "full_build",
) -> dict:
    """Write every table of a fresh snapshot (docs, doc_stats,
    term_stats, postings) from ``index``'s per-doc aggregates and
    return its manifest, NOT committed — the caller commits.
    Unpersists the aggregates when done."""
    if not index._intermediates:
        raise ValueError(
            "save_index encodes blocks from the per-doc aggregates, and this "
            "index has none: build it with build_index(..., cache_agg=True) "
            "or use build_and_save"
        )
    t0 = time.time()
    snap = uuid.uuid4().hex[:12]
    os.makedirs(path, exist_ok=True)
    dirs = {k: f"{k}_v_{snap}" for k in ("docs", "doc_stats", "term_stats", "postings")}

    # ONE tokenize pass, materialized UP FRONT: the per-doc aggregates
    # are counted once, so the independent writers below can run
    # CONCURRENTLY without racing to compute the tokenizer lineage.
    # (The naive lineage would re-run the tokenizer once per downstream
    # action — 5x the CPU.)
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
    from pyspark.sql import Observation

    # every writer thread runs with the caller's job group and
    # scheduler pool (a plain pool thread drops both)
    inherit = inheritable_thread_target(index.spark)

    # corpus stats (n_docs, avgdl per field) ride the per-doc
    # aggregates' OWN materialization as Observations, so the encode is
    # gated only by this first job (serial job latency is what caps
    # N->4N scaling efficiency). Each intermediate is one field's
    # aggregate; their materializations are independent, so they run
    # from driver threads and the fields' tokenize jobs overlap (a
    # 4-field claims build paid 4 serial job tails).
    def _materialize(a):
        o = Observation()
        a.observe(
            o,
            F.first("field").alias("fld"),
            F.count(F.when(F.col("dl") > 0, F.lit(1))).alias("n"),
            F.sum("dl").alias("dl"),
        ).count()
        return o.get

    corpus: dict[str, tuple[int, float]] = {}
    total_dls: dict[str, int] = {}
    with ThreadPoolExecutor(max_workers=max(2, len(index._intermediates))) as mex:
        for v in mex.map(inherit(_materialize), index._intermediates):
            n = int(v["n"] or 0)
            dl = int(v["dl"] or 0)
            if n:
                corpus[str(v["fld"])] = (n, dl / n)
                total_dls[str(v["fld"])] = dl

    # Every scalar (doc/bucket counts, corpus stats, shard metrics)
    # rides a write or the aggregate materialization as an Observation
    # — zero separate aggregation jobs. The independent writes (docs /
    # doc_stats / term_stats) run from driver threads, concurrently
    # with the postings encode.
    obs_docs = Observation()

    def w_docs():
        # docs hash-bucketed by pmod(doc_id, n_buckets) so incremental
        # sync can MERGE by rewriting only touched buckets; one file
        # per bucket (repartition), per-bucket counts via Observation
        bucket_col = F.pmod(
            F.col(index.doc_id_col).cast("long"), F.lit(n_buckets)
        ).cast("int")
        docs_aggs = [
            F.count(F.when(F.col("_bucket") == b, F.lit(1))).alias(f"b_{b}")
            for b in range(n_buckets)
        ]
        staged = (
            index.docs.withColumn("_bucket", bucket_col)
            .observe(obs_docs, *docs_aggs)
            .repartition(n_buckets, F.col("_bucket"))
        )
        if docs_sort_col and docs_sort_col in index.docs.columns:
            # secondary-lookup key: row-group min/max stats prune
            # point lookups (see docstring)
            staged = staged.sortWithinPartitions("_bucket", docs_sort_col)
        (
            staged.write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(f"{path}/{dirs['docs']}")
        )

    def w_doc_stats():
        # one row per doc per field, straight off the aggregates
        index.doc_stats.write.mode("overwrite").parquet(f"{path}/{dirs['doc_stats']}")

    def w_term_stats():
        # the dictionary derives from the per-doc aggregates (terms are
        # distinct per doc, so count(*) per (field, term) == df == sum
        # of block n_docs): the job reads the aggregates, not the
        # postings being written, so it runs CONCURRENTLY with the
        # encode instead of after it on the build's critical path.
        # Range-partitioned + sorted by term for pruning.
        tp = term_partitions or max(2, n_shards // 2)
        u = None
        for a in index._intermediates:
            part = a.select("field", F.explode("terms").alias("term"))
            u = part if u is None else u.unionByName(part)
        (
            u.groupBy("field", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("df"))
            .repartitionByRange(tp, "field", "term")
            .sortWithinPartitions("field", "term")
            .write.mode("overwrite")
            .parquet(f"{path}/{dirs['term_stats']}")
        )

    obs_blocks = Observation()
    with ThreadPoolExecutor(max_workers=4) as ex:
        futs = [ex.submit(inherit(w)) for w in (w_docs, w_doc_stats, w_term_stats)]
        # postings blocks: ONE doc-level shuffle of the per-doc
        # aggregates + mapInArrow encode (_agg_blocks_arrow); rows
        # leave the encoder already (field, term)-sorted per shard, so
        # the writer needs no second exchange
        blocks = _agg_blocks_arrow(
            index._intermediates, n_shards, block_size,
            {f: v[1] for f, v in corpus.items()},
        )
        b_aggs = []
        for s in range(n_shards):
            cond = F.col("shard") == s
            b_aggs.append(F.count(F.when(cond, F.lit(1))).alias(f"bl_{s}"))
            b_aggs.append(F.sum(F.when(cond, F.col("n_docs"))).alias(f"po_{s}"))
        (
            blocks.observe(obs_blocks, *b_aggs)
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(f"{path}/{dirs['postings']}")
        )
        for f in futs:
            f.result()
    index.unpersist_intermediates()

    dvals = obs_docs.get
    bucket_docs = {
        str(b): int(dvals[f"b_{b}"]) for b in range(n_buckets) if int(dvals[f"b_{b}"] or 0)
    }
    docs_buckets = {b: f"{dirs['docs']}/_bucket={b}" for b in bucket_docs}
    n_docs_total = sum(bucket_docs.values())
    bvals = obs_blocks.get
    shard_metrics = {
        s: {"blocks": int(bvals[f"bl_{s}"] or 0), "postings": int(bvals[f"po_{s}"] or 0)}
        for s in range(n_shards)
        if int(bvals[f"bl_{s}"] or 0)
    }

    return {
        "version": 1,
        "snapshot": snap,
        "dirs": dirs,
        "created_unix": int(t0),
        "analyzer_mode": index.mode,
        "doc_id_col": index.doc_id_col,
        "fields": {k: {"column": v.column, "positions": v.positions} for k, v in index.fields.items()},
        "n_shards": n_shards,
        "n_buckets": n_buckets,
        "docs_buckets": docs_buckets,
        "bucket_docs": bucket_docs,
        "docs_sort_col": (
            docs_sort_col if docs_sort_col in index.docs.columns else None
        ),
        "block_size": block_size,
        "bm25": {"k1": K1, "b": B},
        "corpus": {
            f: {"n_docs": v[0], "avgdl": v[1], "total_dl": total_dls[f]}
            for f, v in corpus.items()
        },
        "deltas": [],
        "ts_deltas": [],
        "tombstones": {},
        "metrics": {
            "n_docs": n_docs_total,
            "build_seconds": round(time.time() - t0, 3),
            "shards": shard_metrics,
        },
        "lineage": [
            {
                "snapshot": snap,
                "op": op,
                "n_docs": n_docs_total,
                "wall_seconds": round(time.time() - t0, 3),
                "shards": sorted(shard_metrics),
            }
        ],
    }


def _docs_state_of(man: dict) -> dict:
    """Identity of the docs table a manifest serves: base dir + the
    per-bucket dir map (bucket rewrites flip entries). JSON-normalized
    keys so a manifest round trip compares equal. Module-level so sync
    can stamp the POST-batch state on trigram delta records before the
    new manifest is committed."""
    return {
        "docs": man.get("dirs", {}).get("docs", "docs"),
        "docs_buckets": {
            str(k): v for k, v in (man.get("docs_buckets") or {}).items()
        },
    }


def _set_term_dict(man: dict, d: str, pfx_len: int) -> None:
    """Point ``man`` at fuzzy dictionary ``d``, recorded against the
    term_stats state ``man`` serves."""
    man.setdefault("dirs", {})["term_dict"] = d
    man["term_dict_pfx_len"] = int(pfx_len)
    man["term_dict_for"] = {
        "term_stats": man["dirs"].get("term_stats", "term_stats"),
        "ts_deltas": list(man.get("ts_deltas", [])),
    }


def _set_trigram(man: dict, text_col: str, d: str) -> None:
    """Point ``man`` at ``d`` as the fresh gram base for ``text_col``."""
    man.setdefault("dirs", {})[f"trigram_{text_col}"] = d
    man.setdefault("trigram_for", {})[text_col] = _docs_state_of(man)
    man.get("trigram_deltas", {}).pop(text_col, None)


def _commit(path: str, manifest: dict) -> None:
    """Durable manifest flip: fsync the temp file before the rename and
    the directory after it, so a power loss leaves the old manifest or
    the new one, never an empty file."""
    tmp = f"{path}/manifest.json.tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, f"{path}/manifest.json")
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def load_index(spark: SparkSession, path: str) -> CompressedIndex:
    with open(f"{path}/manifest.json") as f:
        manifest = json.load(f)
    return CompressedIndex(path=path, spark=spark, manifest=manifest)


def build_and_save(
    docs: DataFrame,
    doc_id_col: str,
    fields: dict[str, FieldSpec | str],
    path: str,
    mode: str = "simple",
    n_shards: int = 8,
    block_size: int = codec.BLOCK_SIZE,
    docs_sort_col: str | None = None,
) -> CompressedIndex:
    from lighthouse_spark.plans.indexer import build_index

    idx = build_index(docs, doc_id_col, fields, mode, cache_agg=True)
    return save_index(
        idx, path, n_shards=n_shards, block_size=block_size,
        docs_sort_col=docs_sort_col,
    )


def build_resumable(
    docs: DataFrame,
    doc_id_col: str,
    fields: dict[str, FieldSpec | str],
    path: str,
    mode: str = "simple",
    n_shards: int = 8,
    block_size: int = codec.BLOCK_SIZE,
    n_buckets: int = 16,
    n_slices: int = 8,
    max_slices: int | None = None,
    term_partitions: int | None = None,
) -> CompressedIndex | None:
    """Checkpointed full build (north_rule: "checkpoint each
    partition's posting shard with lineage + build metrics for
    resumability").

    The corpus splits into ``n_slices`` deterministic slices
    (pmod(xxhash64(doc_id), n_slices)); each slice's TOKENIZED output
    — its per-field per-doc aggregates (doc_id, field, dl, terms,
    tfs[, poss]), the expensive part at 10^12 files — is committed to
    ``build_checkpoint/slice_k/aggs`` together with an
    atomically-updated progress journal carrying per-slice doc counts,
    per-field length sums and wall time. A restarted build skips every
    journaled slice — at a 10-hour 100 TB tokenize, a crash costs one
    slice, not the build. When all slices are present, FINALIZE reads
    the checkpointed aggregates (no re-tokenize) and writes the
    snapshot through save_index's writer (exact global corpus stats,
    blocks encoded with the global avgdl, dictionary, doc_stats), then
    commits the ordinary manifest with the slice lineage prepended; the
    checkpoint dir is then removed. Results are IDENTICAL to a one-shot
    build, block bytes included (pinned by tests/test_resumable.py).

    ``max_slices`` bounds the slices processed THIS invocation (the
    test hook for simulating interruption; also a natural work-budget
    knob for spot instances). Returns None while incomplete.
    """
    import shutil

    from pyspark.sql import Observation

    from lighthouse_spark.plans.indexer import _field_aggregates, _index_over_aggregates

    spark = docs.sparkSession
    specs = {k: (v if isinstance(v, FieldSpec) else FieldSpec(v)) for k, v in fields.items()}
    field_names = sorted(specs)
    ckdir = f"{path}/build_checkpoint"
    os.makedirs(ckdir, exist_ok=True)
    jpath = f"{ckdir}/progress.json"
    journal = {"slices": {}}
    if os.path.exists(jpath):
        with open(jpath) as f:
            journal = json.load(f)
    params = {
        "n_slices": n_slices,
        "mode": mode,
        "doc_id_col": doc_id_col,
        "fields": {k: [v.column, v.positions] for k, v in specs.items()},
        # checkpoint layout: a journal from another layout is refused
        # below rather than half-read
        "checkpoint": "doc_aggregates",
    }
    if journal.get("params") not in (None, params):
        raise ValueError(
            f"build_checkpoint at {ckdir} was written with different "
            "parameters — remove it or finish that build first"
        )
    journal["params"] = params

    def _write_journal():
        tmp = jpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(journal, f, indent=2)
        os.replace(tmp, jpath)

    # ---- per-slice tokenize + checkpoint: ONE write per slice, its
    # per-field n/dl sums ride that write as an Observation
    done_this_run = 0
    for s in range(n_slices):
        if str(s) in journal["slices"]:
            continue
        if max_slices is not None and done_this_run >= max_slices:
            _write_journal()
            return None
        t0 = time.time()
        sdocs = docs.filter(
            F.pmod(F.xxhash64(F.col(doc_id_col)), F.lit(n_slices)) == s
        )
        obs = Observation()
        sums = []
        for fn in field_names:
            cond = F.col("field") == fn
            sums.append(F.sum(F.when(cond, F.col("dl"))).alias(f"dl_{fn}"))
            sums.append(
                F.count(F.when(cond & (F.col("dl") > 0), F.lit(1))).alias(f"n_{fn}")
            )
        (
            _agg_union(_field_aggregates(sdocs, doc_id_col, specs, mode))
            .observe(obs, *sums)
            .write.mode("overwrite")
            .parquet(f"{ckdir}/slice_{s}/aggs")
        )
        vals = obs.get
        journal["slices"][str(s)] = {
            "fields": {
                fn: {"n": int(vals[f"n_{fn}"] or 0), "dl": int(vals[f"dl_{fn}"] or 0)}
                for fn in field_names
            },
            "wall_seconds": round(time.time() - t0, 3),
        }
        _write_journal()
        done_this_run += 1

    # ---- finalize: the snapshot from the checkpointed aggregates ------
    t0 = time.time()
    ck = spark.read.parquet(*[f"{ckdir}/slice_{s}/aggs" for s in range(n_slices)])
    aggs = [
        ck.filter(F.col("field") == fn).drop(*(() if spec.positions else ("poss",)))
        for fn, spec in specs.items()
    ]
    manifest = _write_snapshot(
        _index_over_aggregates(docs, doc_id_col, specs, mode, aggs, keep=True),
        path, n_shards, block_size, term_partitions, n_buckets,
        op="full_build_finalize",
    )
    slices = sorted(journal["slices"].items(), key=lambda kv: int(kv[0]))
    manifest["lineage"] = [
        {
            "snapshot": manifest["snapshot"],
            "op": "build_slice",
            "slice": int(s),
            "n_docs": max((sl["fields"][fn]["n"] for fn in field_names), default=0),
            "wall_seconds": sl["wall_seconds"],
        }
        for s, sl in slices
    ] + manifest["lineage"]
    manifest["metrics"]["build_seconds"] = round(
        sum(sl["wall_seconds"] for _, sl in slices) + (time.time() - t0), 3
    )
    _commit(path, manifest)
    shutil.rmtree(ckdir, ignore_errors=True)
    return CompressedIndex(path=path, spark=spark, manifest=manifest)
