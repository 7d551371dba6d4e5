"""Incremental sync: checkpointed upsert/delete into a live index.

The reference's chainquery sync job re-expressed for the compressed
store (ref: /root/reference/app/jobs/chainquery/chainquery.go:76-166):

- **cursor semantics** (chainquery.go:67-68 `id > ? AND modified_at
  >= ?`): `plan_batch` filters the source table by the checkpointed
  cursor — in Spark this is one predicate-pushed scan, no keyset
  pagination loop needed; the 1000/5000-row batching of the reference
  exists only because it streams row-by-row over a MySQL wire.
- **routing** (chainquery.go:127-131): rows with bid_state in
  {Spent, Expired} become deletes, everything else upserts — exactly
  the reference's predicate-routed sink (SURVEY.md P13).
- **upsert by doc id** (claim.go:142-157 `_id`=claimId): MERGE
  semantics = rewrite of ONLY the docs-table buckets the batch
  touches (hash-bucketed layout, store.py) + posting DELTA build for
  the affected docs + tombstoning their dead base postings. Lucene
  does the same thing with segment tombstones; compaction (below) is
  our segment merge.
- **checkpoint** (syncstate.json, chainquery.go:168-207): SyncState
  JSON with last_id / last_sync_time + the manifest lineage.

Statistics stay EXACT across increments:
- n_docs and total_dl via integer bookkeeping (removed docs' dl read
  from per-source doc_stats in one tagged aggregation);
- per-term df via SIGNED df deltas written per snapshot: +df from the
  upserts' delta index, -df from re-tokenizing the (batch-bounded)
  docs being replaced/deleted. The live dictionary is base + deltas
  summed (store.term_stats); no posting-block decode ever happens on
  the driver.
Block-max bounds stay safe under avgdl drift via the enc_avgdl
rescale in the WAND kernel. Consequently query results between
compactions are IDENTICAL to a full rebuild — pinned by
tests/test_sync.py.

Scale contract: one sync batch (the 15-minute churn window) is
bounded — its ids fit on the driver, exactly like the reference's
1000-row MySQL pages. Bootstrap/full loads go through
store.save_index, not this path.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from lighthouse_spark.plans.indexer import (
    FieldSpec, _field_aggregates, _index_over_aggregates, build_index,
)
from lighthouse_spark.session import local_frame
from lighthouse_spark.sources import store as store_mod
from lighthouse_spark.sources.store import CompressedIndex, POSTING_SCHEMA

# How long compaction keeps a dir its commit stopped referencing: the
# reference's 15-minute sync period (cron.go:18). A reader that reloads
# the manifest at least once per period never reads a swept dir.
_RETAIN_S = 900


@dataclass
class SyncState:
    """syncstate.json analogue (chainquery.go:20-24, 168-207)."""

    last_id: int = 0
    last_sync_unix: int = 0
    started_unix: int = 0

    @classmethod
    def load(cls, path: str) -> "SyncState":
        if os.path.exists(path):
            with open(path) as f:
                return cls(**json.load(f))
        return cls()

    def save(self, path: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(asdict(self), f)
        os.replace(tmp, path)


def plan_batch(source: DataFrame, state: SyncState, id_col: str, modified_col: str) -> DataFrame:
    """The incremental scan (chainquery.go:32-73): everything new or
    re-modified since the checkpoint. Predicate pushes to the source
    scan; partition pruning applies if the source is partitioned on
    the modified column."""
    return source.filter(
        (F.col(id_col) > state.last_id)
        | (F.col(modified_col) >= F.lit(state.last_sync_unix))
    )


_DEAD_STATES = ("Expired", "Spent")


def _route(batch: DataFrame, meta: list, bid_state_col: str | None):
    """(up_ids, del_ids, upserts) of one batch from its collected
    ``_id``/``_bs`` metadata rows (chainquery.go:127-131): only
    Spent/Expired rows delete; every other row upserts, a NULL
    bid_state included. ``bid_state_col`` None routes everything to
    upserts. ``upserts`` is None when nothing upserts."""
    dead = [bool(bid_state_col) and r["_bs"] in _DEAD_STATES for r in meta]
    up_ids = [int(r["_id"]) for r, d in zip(meta, dead) if not d]
    del_ids = [int(r["_id"]) for r, d in zip(meta, dead) if d]
    upserts = None
    if up_ids:
        upserts = batch
        if bid_state_col:
            bs = F.col(bid_state_col)
            upserts = batch.filter(bs.isNull() | ~bs.isin(*_DEAD_STATES))
    return up_ids, del_ids, upserts


def _union(frames: list[DataFrame]) -> DataFrame:
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f)
    return u


# Above this many dead ids, inlining them as plan literals bloats the
# plan (analysis cost + task-binary size); switch to a broadcast
# anti-join — the tombstone set is bounded by churn between
# compactions, so the broadcast side stays small relative to the data.
_ISIN_MAX = 10_000

# Rows per Python tokenize task on the sync path. An Arrow UDF task
# costs ~0.15 CPU-s of Python worker time on PySpark 4.1.2 however few
# rows it gets (measured: 0.14-0.21 s per identity mapInArrow task over
# a 200-row frame), and the analyzer tokenizes a claims field in ~3 µs
# per row, so a task of 50k rows spends about as much on its rows as on
# its fixed cost. A ~1% batch is one task per field; a 10^6-id catch-up
# batch still spreads over 20.
_ROWS_PER_TOKENIZE_TASK = 50_000


def _tokenize_parts(rows: int) -> int:
    """Partition count for a Python stage over ``rows`` batch rows."""
    return max(1, math.ceil(rows / _ROWS_PER_TOKENIZE_TASK))


def _filter_ids(fr: DataFrame, col, ids, spark, keep: bool, ids_df=None) -> DataFrame:
    """Keep (or drop) rows whose id column is in ``ids`` — `.isin`
    plan literals for small lists, a broadcast SEMI/ANTI join beyond
    _ISIN_MAX (VERDICT r2 wrong #5: mega IN-lists bloat analysis and
    task binaries). ``col`` is the id Column expression. NULL ids are
    KEPT on the drop path in both branches (a bare ~isin would
    NULL-filter them, making survival depend on the list size);
    ``ids_df`` lets a caller reuse one driver frame across calls."""
    ids = [int(x) for x in ids]
    if len(ids) <= _ISIN_MAX:
        if keep:
            return fr.filter(col.isin(ids))
        return fr.filter(col.isNull() | ~col.isin(ids))
    idf = ids_df if ids_df is not None else _ids_frame(ids, spark)
    return fr.join(
        F.broadcast(idf), col == F.col("_fid"), "left_semi" if keep else "left_anti"
    )


def _ids_frame(ids, spark) -> DataFrame:
    """One-column ``_fid long`` frame from driver-side ids. Goes
    through pandas/Arrow — a catch-up batch can carry ~10^6 ids (the
    touched-id sidecar write), where the row-tuple path would spend
    seconds pickling on the driver."""
    import numpy as np
    import pandas as pd

    arr = np.fromiter((int(i) for i in ids), dtype=np.int64)
    return spark.createDataFrame(pd.DataFrame({"_fid": arr}), "_fid long")


def _avgdl(man: dict) -> dict[str, float]:
    """Exact current avgdl per field from the manifest bookkeeping."""
    return {
        f: (v["total_dl"] / v["n_docs"] if v["n_docs"] else 1.0)
        for f, v in man["corpus"].items()
    }


def _mask_dead(fr: DataFrame, dead, spark) -> DataFrame:
    """Drop tombstoned doc_ids (list may grow with churn between
    compactions)."""
    if not dead:
        return fr
    return _filter_ids(fr, F.col("doc_id"), dead, spark, keep=False)


def apply_incremental(
    cindex: CompressedIndex,
    upserts: DataFrame | None = None,
    delete_ids: DataFrame | None = None,
    up_id_list: list[int] | None = None,
    del_id_list: list[int] | None = None,
) -> CompressedIndex:
    """MERGE a batch into the index; returns the new handle (S6-S8
    analogue).

    upserts: full new doc rows (same schema as docs). delete_ids: a
    one-column `doc_id` frame (or pass `del_id_list` directly when the
    caller already has the ids — sync() does, saving a job). Existing
    versions of upserted docs and all deleted docs are tombstoned; new
    postings land in a delta snapshot dir; signed df deltas and exact
    corpus bookkeeping keep every statistic identical to a rebuild.

    Spark jobs per batch, as measured on a ~200-row cycle of the
    benchmark's 20k-claim, 4-field `ingest` store (16; sync() adds its
    metadata collect). Every Python stage runs in
    `_tokenize_parts(batch rows)` partitions, so a small batch costs
    one Python task per stage, not one per source or bucket partition:
      1 collect of batch ids        (only when the caller passes no lists)
      1 doc_stats footer read       (the schema every source reuses)
      2 tagged doc_stats aggregation (old versions + removed dl/n)
      2 delta-aggregate build       (every field in one cached frame)
      1 docs footer read            (the docs view; the bucket read reuses it)
      2 touched-bucket docs write   (+Observation: per-bucket counts)
      2 delta-postings write        (upserts only)
      1 doc_stats-delta write       (+Observation: added dl/n)
      5 term_stats-delta write      (signed df deltas: one docs-scan
                                     exchange per field for the replaced
                                     versions, then the write)
    """
    spark = cindex.spark
    cur = cindex.manifest
    t0 = time.time()
    snap = uuid.uuid4().hex[:12]
    id_col = cur["doc_id_col"]
    fields = {
        k: FieldSpec(v["column"], v["positions"]) for k, v in cur["fields"].items()
    }

    # ---- batch ids on the driver (bounded by the sync-batch contract)
    if up_id_list is None:
        up_id_list = (
            [int(r[0]) for r in upserts.select(id_col).collect()]
            if upserts is not None
            else []
        )
    if del_id_list is None:
        del_id_list = (
            [int(r[0]) for r in delete_ids.select("doc_id").collect()]
            if delete_ids is not None
            else []
        )
    if not up_id_list:
        upserts = None
    else:
        # the upserts are batch-bounded: fold them into as few Python
        # tasks as their row count needs (no exchange)
        upserts = upserts.coalesce(_tokenize_parts(len(up_id_list)))
    aff_ids = sorted(set(up_id_list) | set(del_id_list))
    if not aff_ids:
        return cindex
    # one driver frame reused by every aff_ids filter below (several
    # doc_stats sources + the docs rewrite) instead of re-serializing
    # the list per call on big catch-up batches
    aff_df = _ids_frame(aff_ids, spark) if len(aff_ids) > _ISIN_MAX else None

    # ---- old versions: ONE tagged aggregation over all doc_stats
    # sources gives (per source, per field) removed n/dl AND the id
    # sets to tombstone (per-segment live-docs semantics: a re-upsert
    # kills the old version in whichever source holds it)
    prev_tombs = cur.get("tombstones", {})
    src_frames = []
    sources = [("base", cindex.dir_of("doc_stats"))] + [
        (s, f"{cindex.path}/doc_stats_delta/{s}") for s in cur.get("deltas", [])
    ]
    # every source shares one layout: infer it once, not per delta
    ds_schema = spark.read.parquet(sources[0][1]).schema
    for sname, spath in sources:
        fr = spark.read.schema(ds_schema).parquet(spath)
        fr = _filter_ids(fr, F.col("doc_id"), aff_ids, spark, keep=True, ids_df=aff_df)
        # rows already dead in this source must not re-count
        fr = _mask_dead(fr, prev_tombs.get(sname, []), spark)
        src_frames.append(fr.withColumn("_src", F.lit(sname)))
    old_rows_q = (
        _union(src_frames)
        .groupBy("_src", "field")
        .agg(
            F.count("*").alias("n"),
            F.sum("dl").alias("dl"),
            F.collect_set("doc_id").alias("ids"),
        )
    )

    # ---- the old-versions aggregation and the delta-index
    # materialization are independent — overlap them from driver
    # threads (r8; they were serial, two full job latencies on the
    # batch critical path). Every field's per-doc aggregate lives in ONE
    # cached frame, materialized here by one action (a cache per field
    # costs a materialization job per field), so the concurrent writers
    # below never race to compute the tokenizer lineage.
    # every writer thread runs with the caller's job group and
    # scheduler pool (a plain pool thread drops both)
    inherit = inheritable_thread_target(spark)
    mode = cur["analyzer_mode"]
    delta_aggs = delta_idx = None
    pos_ts = None
    obs_ds = Observation()
    field_names = sorted(fields)
    with ThreadPoolExecutor(max_workers=2) as pre:
        f_old = pre.submit(inherit(old_rows_q.collect))
        if upserts is not None:
            delta_aggs = store_mod._agg_union(
                _field_aggregates(upserts, id_col, fields, mode)
            ).persist()
            delta_aggs.count()
            delta_idx = _index_over_aggregates(
                upserts, id_col, fields, mode,
                [delta_aggs.filter(F.col("field") == f) for f in fields], keep=False,
            )
            pos_ts = delta_idx.term_stats.select(
                "field", "term", F.col("df").cast("long").alias("df")
            )
        old_rows = f_old.result()
    removed = [(r["field"], int(r["n"]), int(r["dl"])) for r in old_rows]
    old_by_snap: dict[str, set[int]] = {}
    for r in old_rows:
        old_by_snap.setdefault(r["_src"], set()).update(int(x) for x in r["ids"])
    old_ids = set().union(*old_by_snap.values()) if old_by_snap else set()

    # ---- negative df deltas: re-tokenize the LIVE versions being
    # replaced/deleted (batch-bounded; same analyzer ⇒ identical terms
    # to what was indexed), so the dictionary subtraction is exact.
    neg_ts = None
    if old_ids:
        # the id filter runs at the docs scan's parallelism (a catch-up
        # batch can carry ~10^6 ids); an exchange then sizes the
        # tokenize to the batch instead of the bucket-file count
        old_docs = _filter_ids(
            cindex.docs, F.col(id_col), sorted(old_ids), spark, keep=True
        ).repartition(_tokenize_parts(len(old_ids)))
        old_idx = build_index(old_docs, id_col, fields, mode)
        neg_ts = old_idx.term_stats.select(
            "field", "term", (-F.col("df")).cast("long").alias("df")
        )

    def w_blocks():
        # encode from the cached per-doc aggregates: one doc-level
        # shuffle, the same _encode_core as the full build
        blocks = store_mod._agg_blocks_arrow(
            [delta_aggs], cur["n_shards"], cur["block_size"], _avgdl(cur)
        )
        blocks.write.mode("overwrite").parquet(f"{cindex.path}/postings_delta/{snap}")

    def w_doc_stats():
        ds_aggs = []
        for fn in field_names:
            cond = F.col("field") == fn
            ds_aggs.append(F.sum(F.when(cond, F.col("dl"))).alias(f"dl_{fn}"))
            ds_aggs.append(F.count(F.when(cond, F.lit(1))).alias(f"n_{fn}"))
        (
            delta_idx.doc_stats.observe(obs_ds, *ds_aggs)
            .write.mode("overwrite")
            .parquet(f"{cindex.path}/doc_stats_delta/{snap}")
        )

    ts_frames = [f for f in (neg_ts, pos_ts) if f is not None]

    def w_ts_delta():
        (
            _union(ts_frames)
            .groupBy("field", "term")
            .agg(F.sum("df").alias("df"))
            .filter(F.col("df") != 0)
            .write.mode("overwrite")
            .parquet(f"{cindex.path}/term_stats_delta/{snap}")
        )

    # ---- docs-table MERGE: rewrite ONLY the buckets this batch
    # touches (Iceberg MERGE INTO's file-level rewrite without
    # Iceberg); untouched buckets keep their current versioned dirs.
    bucket_map = cur["docs_buckets"]
    new_docs_dir = f"docs_v_{snap}"
    obs_b = Observation()
    nb = int(cur["n_buckets"])
    touched = sorted({i % nb for i in aff_ids})
    doc_cols = cindex.docs.columns
    parts = []
    existing = [b for b in touched if str(b) in bucket_map]
    if existing:
        # same leaf-dir layout as the docs view: reuse its schema
        old_b = spark.read.schema(cindex.docs.schema).parquet(
            *[f"{cindex.path}/{bucket_map[str(b)]}" for b in existing]
        )
        parts.append(_filter_ids(old_b.select(doc_cols), F.col(id_col), aff_ids, spark, keep=False, ids_df=aff_df))
    if upserts is not None:
        parts.append(upserts.select(doc_cols))
    # delete-only batch whose touched buckets don't exist (claims
    # created and spent within one sync window on a sparse index):
    # no live doc row changes — skip the docs write entirely
    # (ADVICE r2 #1: _union([]) would raise in the writer thread).
    skip_docs = not parts

    def w_docs():
        b_aggs = [
            F.count(F.when(F.col("_bucket") == b, F.lit(1))).alias(f"b_{b}")
            for b in touched
        ]
        staged = (
            _union(parts)
            .withColumn(
                "_bucket", F.pmod(F.col(id_col).cast("long"), F.lit(nb)).cast("int")
            )
            .observe(obs_b, *b_aggs)
            .repartition(max(len(touched), 1), F.col("_bucket"))
        )
        sort_col = cur.get("docs_sort_col")
        if sort_col and sort_col in doc_cols:
            # preserve the secondary-lookup sort the full build
            # declared (row-group stat pruning for point lookups)
            staged = staged.sortWithinPartitions("_bucket", sort_col)
        (
            staged.write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(f"{cindex.path}/{new_docs_dir}")
        )

    # ---- trigram maintenance (churn-proportional, operators/trigram):
    # for every gram index live against the PRE-batch docs state, write
    # this batch's gram postings as a delta and record the touched ids
    # as its mask. A live trigram col missing from the upsert schema
    # (shouldn't happen — upserts share the docs schema) simply stays
    # un-updated and invalidates via the state check.
    tri_cols = []
    for key in cur.get("dirs", {}):
        if key.startswith("trigram_"):
            col = key[len("trigram_"):]
            live = cur.get("trigram_for", {}).get(col) == cindex._docs_state()
            if live and (upserts is None or col in upserts.columns):
                tri_cols.append(col)

    def mk_w_trigram(col):
        def w():
            from ..operators import trigram as _tri

            post, _ = _tri.build_trigram_index(upserts, id_col, col)
            (
                post.withColumn("pfx", F.substring("gram", 1, 1))
                .write.mode("overwrite")
                .parquet(f"{cindex.path}/trigram_delta/{col}/{snap}")
            )

        return w

    writers = [] if skip_docs else [w_docs]
    if upserts is not None:
        writers += [w_blocks, w_doc_stats]
        writers += [mk_w_trigram(c) for c in tri_cols]
    wrote_ts = bool(ts_frames)
    if wrote_ts:
        writers.append(w_ts_delta)
    if writers:
        with ThreadPoolExecutor(max_workers=len(writers)) as ex:
            futures = [ex.submit(inherit(w)) for w in writers]
            for f in futures:
                f.result()

    added = []
    if upserts is not None:
        vals = obs_ds.get
        added = [
            (fn, int(vals[f"n_{fn}"] or 0), int(vals[f"dl_{fn}"] or 0))
            for fn in field_names
            if int(vals[f"n_{fn}"] or 0)
        ]
        delta_aggs.unpersist()

    bucket_rows = {}
    if not skip_docs:
        bvals = obs_b.get
        bucket_rows = {str(b): int(bvals[f"b_{b}"] or 0) for b in touched}
    if tri_cols:
        # touched-id SIDECAR (ADVICE r4): one parquet per batch, shared
        # by every trigram column, referenced from the manifest by snap
        # — the manifest JSON stays O(#batches) regardless of churn
        # (inlining the id list made every later commit/read linear in
        # total churned ids, and a catch-up batch bloated one document)
        _ids_frame(sorted({int(i) for i in aff_ids}), spark).write.mode(
            "overwrite"
        ).parquet(f"{cindex.path}/touched_ids/{snap}")

    def edit(man):
        bm, bd = man["docs_buckets"], man.setdefault("bucket_docs", {})
        for b, nrows in bucket_rows.items():
            if nrows:
                bm[b] = f"{new_docs_dir}/_bucket={b}"
                bd[b] = nrows
            else:
                bm.pop(b, None)
                bd.pop(b, None)

        # ---- manifest bookkeeping (exact integer updates)
        for fld, n, dl in removed:
            c = man["corpus"][fld]
            c["n_docs"] -= n
            c["total_dl"] -= dl
        for fld, n, dl in added:
            c = man["corpus"][fld]
            c["n_docs"] += n
            c["total_dl"] += dl
        tombs = man.setdefault("tombstones", {})
        for sname, ids in old_by_snap.items():
            tombs[sname] = sorted(set(tombs.get(sname, [])) | ids)
        if added:
            man["deltas"] = man.get("deltas", []) + [snap]
        if wrote_ts:
            man["ts_deltas"] = man.get("ts_deltas", []) + [snap]
        for col in tri_cols:
            recs = man.setdefault("trigram_deltas", {}).setdefault(col, [])
            recs.append(
                {
                    "snap": snap,
                    "touched_ref": snap,
                    "has_rows": upserts is not None,
                }
            )
            # stamp the POST-batch docs state: the gram view (base masked
            # to later-touched ids + this delta) is exactly what the new
            # docs table contains, so the index stays live
            man.setdefault("trigram_for", {})[col] = store_mod._docs_state_of(man)
        man["metrics"]["n_docs"] = sum(bd.values())
        man.setdefault("lineage", []).append(
            {
                "snapshot": snap,
                "op": "incremental",
                "upserts": len(up_id_list),
                "deletes": len(del_id_list),
                "tombstoned": len(old_ids),
                "wall_seconds": round(time.time() - t0, 3),
            }
        )

    return cindex._next(edit)


def compact(cindex: CompressedIndex) -> CompressedIndex:
    """Segment merge (Lucene's merge policy analogue): fold deltas and
    tombstones back into a clean base by DECODING and re-encoding the
    posting blocks per (shard, field) — never re-tokenizing the corpus.

    - postings: base+delta blocks decode to flat (term, doc_id, tf, dl,
      positions) arrays inside one vectorized mapInArrow per (shard,
      field) group (store._merge_blocks_arrow), dead docs masked per
      source snapshot (broadcast), then re-encoded with the exact
      current avgdl through the build encoder's own _encode_core —
      byte-identical to a from-scratch build's blocks for the same live
      corpus (pinned by test_compacted_blocks_match_rebuild_bytes).
    - doc_stats: per-source union minus each source's tombstones.
    - term_stats: the live (base + signed deltas) view, materialized
      range-partitioned/sorted again.
    - trigram deltas and a saved fuzzy dictionary: re-based (below).
    - docs: untouched — the bucketed docs table is already merged.
    Corpus scalars come from the manifest's exact bookkeeping. All
    writes land before ONE commit, which returns the new handle;
    lineage is preserved and superseded dirs are retired (`_retire`)."""
    spark = cindex.spark
    cur = cindex.manifest
    t0 = time.time()
    snap = uuid.uuid4().hex[:12]
    tomb_bc = cindex.tombstones_bc()
    prev_tombs = cur.get("tombstones", {})
    avgdl_map = _avgdl(cur)
    bs = cur["block_size"]

    new_dirs = {k: f"{k}_v_{snap}" for k in ("doc_stats", "term_stats", "postings")}

    # the rewrites are independent — driver threads overlap them;
    # shard metrics ride the postings write as an Observation
    n_shards = int(cur["n_shards"])
    obs_blocks = Observation()

    def w_postings():
        # r8: vectorized decode→re-encode merge (store._merge_blocks_arrow,
        # sharing _encode_core with the build encoder) over ONE exchange;
        # rows leave (field, term, block_id)-sorted per shard, so the old
        # repartition("shard") + sortWithinPartitions second exchange is
        # gone — same single-exchange shape as the build's postings write.
        sel = cindex.postings.select(
            "shard", "field", "term", "n_docs", "doc_ids_enc", "tfs_enc",
            "dls_enc", "positions_enc", "snapshot",
        )
        merged = sel.repartition("shard", "field").mapInArrow(
            store_mod._merge_blocks_arrow(bs, avgdl_map, tomb_bc),
            POSTING_SCHEMA,
        )
        b_aggs = []
        for s in range(n_shards):
            cond = F.col("shard") == s
            b_aggs.append(F.count(F.when(cond, F.lit(1))).alias(f"bl_{s}"))
            b_aggs.append(F.sum(F.when(cond, F.col("n_docs"))).alias(f"po_{s}"))
        (
            merged.observe(obs_blocks, *b_aggs)
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(f"{cindex.path}/{new_dirs['postings']}")
        )

    def w_doc_stats():
        ds_frames = []
        sources = [("base", cindex.dir_of("doc_stats"))] + [
            (s, f"{cindex.path}/doc_stats_delta/{s}") for s in cur.get("deltas", [])
        ]
        for sname, spath in sources:
            fr = _mask_dead(spark.read.parquet(spath), prev_tombs.get(sname, []), spark)
            ds_frames.append(fr)
        _union(ds_frames).write.mode("overwrite").parquet(
            f"{cindex.path}/{new_dirs['doc_stats']}"
        )

    def w_term_stats():
        # r8: materialize the LIVE dictionary view (base + signed
        # deltas, df>0 — the exact-df invariant every increment
        # maintains, pinned by the upsert≡rebuild tests) instead of
        # re-aggregating the merged blocks' n_docs. Identical values,
        # but no dependency on the postings write — the dictionary
        # rewrite now overlaps the merge instead of trailing it (the
        # old chain serialized the compaction's two largest jobs).
        tp = max(2, n_shards // 2)
        (
            cindex.term_stats
            .repartitionByRange(tp, "field", "term")
            .sortWithinPartitions("field", "term")
            .write.mode("overwrite")
            .parquet(f"{cindex.path}/{new_dirs['term_stats']}")
        )

    # fold pending trigram deltas into fresh bases: compact is the
    # bounded-growth point for the gram indexes exactly as it is for
    # postings/term_stats deltas — without this, the per-batch union
    # legs and manifest touched-id lists grow with total batches ever
    # applied. The fold writes FROM THE MASKED VIEW (base read +
    # churn-bounded deltas), honoring the no-re-tokenize contract.
    tri_cols = [c for c, recs in cur.get("trigram_deltas", {}).items() if recs]
    # the term_stats rewrite invalidates a saved d=2 fuzzy dictionary
    # (term_dict checks its base pointer) — re-save it from the live
    # view, which holds exactly the rows the new term_stats base does
    # (a dictionary-sized scan, no tokenize), so AUTO d=2 fuzzy keeps
    # its partition-pruned path instead of regressing to the band scan
    pfx_len = int(cur.get("term_dict_pfx_len", 3))
    has_dict = "term_dict" in cur.get("dirs", {})
    writers = [w_postings, w_doc_stats, w_term_stats]
    writers += [lambda c=c: cindex._write_trigram_fold(c) for c in tri_cols]
    if has_dict:
        writers.append(lambda: cindex._write_term_dict(pfx_len))
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(writers)) as ex:
        done = [f.result() for f in [ex.submit(inherit(w)) for w in writers]]
    tri_dirs = dict(zip(tri_cols, done[3:]))
    term_dict = done[-1] if has_dict else None

    bvals = obs_blocks.get
    shards = {
        s: {"blocks": int(bvals[f"bl_{s}"] or 0), "postings": int(bvals[f"po_{s}"] or 0)}
        for s in range(n_shards)
        if int(bvals[f"bl_{s}"] or 0)
    }
    expired: list[str] = []

    def edit(man):
        man["metrics"]["shards"] = shards
        man["dirs"] = {**man["dirs"], **new_dirs}
        man["snapshot"] = snap
        man["deltas"] = []
        man["ts_deltas"] = []
        man["tombstones"] = {}
        for col, d in tri_dirs.items():
            if d is not None:
                store_mod._set_trigram(man, col, d)
        if term_dict is not None:
            store_mod._set_term_dict(man, term_dict, pfx_len)
        man.setdefault("lineage", []).append(
            {
                "snapshot": snap,
                "op": "compaction",
                "wall_seconds": round(time.time() - t0, 3),
            }
        )
        expired.extend(_retire(cindex.path, man, round(time.time(), 3)))

    out = cindex._next(edit)
    for d in expired:
        shutil.rmtree(f"{cindex.path}/{d}", ignore_errors=True)
    return out


# every dir some snapshot may read: versioned rewrites and per-batch dirs
_SNAPSHOT_GLOBS = (
    "*_v_*", "postings_delta/*", "doc_stats_delta/*", "term_stats_delta/*",
    "touched_ids/*", "trigram_delta/*/*",
)


def _retire(path: str, man: dict, now: float) -> list[str]:
    """Retention instead of deletion (Iceberg's expire_snapshots
    (older_than)): list in ``man["retired"]``, with the commit time
    ``now``, every snapshot dir under ``path`` that ``man`` does not
    read — superseded versions, folded deltas, a crashed writer's
    leftovers — and drop the entries retired _RETAIN_S or more before.
    Returns the dropped dirs, for deletion once ``man`` is committed."""
    held = set(man.get("dirs", {}).values())
    held |= {d.split("/", 1)[0] for d in (man.get("docs_buckets") or {}).values()}
    for s in man.get("deltas", []):
        held |= {f"postings_delta/{s}", f"doc_stats_delta/{s}"}
    held |= {f"term_stats_delta/{s}" for s in man.get("ts_deltas", [])}
    for col, recs in man.get("trigram_deltas", {}).items():
        for r in recs:
            held |= {f"trigram_delta/{col}/{r['snap']}", f"touched_ids/{r.get('touched_ref')}"}
    kept, expired = [], []
    for e in man.get("retired", []):
        held |= set(e["dirs"])
        (expired if now - e["unix"] >= _RETAIN_S else kept).append(e)
    on_disk = {
        os.path.relpath(p, path) for g in _SNAPSHOT_GLOBS for p in glob.glob(f"{path}/{g}")
    }
    if on_disk - held:
        kept.append({"unix": now, "dirs": sorted(on_disk - held)})
    man["retired"] = kept
    return [d for e in expired for d in e["dirs"]]


def sync(
    cindex: CompressedIndex,
    source: DataFrame,
    state_path: str,
    id_col: str = "id",
    modified_col: str = "modified_at",
    bid_state_col: str = "bid_state",
) -> CompressedIndex:
    """One checkpointed sync cycle (the 15-min cron body, cron.go:18).

    ONE metadata collect per cycle fetches (cursor id, doc id, route)
    for the whole batch — routing, max-cursor, and the id lists
    apply_incremental needs all come from it; no limit/count/max jobs.
    """
    from lighthouse_spark.api import metrics

    metrics.JobLoad.inc("claim_sync")  # chainquery.go:80-82
    t_job = time.time()
    try:
        state = SyncState.load(state_path)
        start = int(time.time())
        doc_col = cindex.manifest["doc_id_col"]
        # Pin the batch (ADVICE r2 #2): persisted BEFORE the metadata
        # collect, which materializes the cache, so the collect and
        # every writer read one materialization. On a mutable source
        # (JDBC) rows arriving or changing after the collect are never
        # indexed uncounted, and a nondeterministic column is evaluated
        # once for the docs table and the postings alike.
        batch = plan_batch(source, state, id_col, modified_col).persist()
        try:
            meta = batch.select(
                F.col(id_col).alias("_cur"),
                F.col(doc_col).cast("long").alias("_id"),
                F.col(bid_state_col).alias("_bs"),
            ).collect()
            if meta:
                up_ids, del_ids, upserts = _route(batch, meta, bid_state_col)
                cindex = apply_incremental(
                    cindex, upserts=upserts, up_id_list=up_ids, del_id_list=del_ids
                )
                state.last_id = max(int(r["_cur"]) for r in meta)
                state.started_unix = state.started_unix or start
        finally:
            batch.unpersist()
        state.last_sync_unix = start
        state.save(state_path)
        return cindex
    finally:
        metrics.JobLoad.dec("claim_sync")
        metrics.job(t_job, "claim_sync")


# --- blocked/filtered lists (P12; blocked.go:25-179) ----------------------

def delete_blocked(
    cindex: CompressedIndex,
    blocked: DataFrame,
    channel_id_col: str = "channel_claim_id",
) -> CompressedIndex:
    """Remove blocked docs; entries with a channel id expand to every
    doc of that channel (blocked.go:122-141's channel expansion)."""
    from lighthouse_spark.api import metrics

    t_job = time.time()
    docs = cindex.docs
    id_col = cindex.manifest["doc_id_col"]
    parts = []
    if "doc_id" in blocked.columns:
        parts.append(blocked.select("doc_id").filter(F.col("doc_id").isNotNull()))
    if channel_id_col in blocked.columns and channel_id_col in docs.columns:
        chans = blocked.select(F.col(channel_id_col).alias("_cid")).filter(
            F.col("_cid").isNotNull()
        )
        parts.append(
            docs.join(
                F.broadcast(chans), docs[channel_id_col] == F.col("_cid"), "left_semi"
            ).select(F.col(id_col).alias("doc_id"))
        )
    if not parts:
        return cindex
    out = apply_incremental(cindex, delete_ids=_union(parts).distinct())
    metrics.job(t_job, "blockedlist_sync")  # blocked.go:58-60
    return out


# Static blocklists shipped in the reference binary (blocked.go:25-50,
# 52-54) — data constants reproduced verbatim, including the duplicated
# first three entries, exactly as the special-names map is.
BLOCKED_CHANNELS = [
    "565be843d5f231d37a037ee6d5276dc1618b5ca3",
    "3dc1703d218fdc6c1cdaa1b32dbd6c143554ba4b",
    "b8b4f68a4e9d9189552e70c508c92cf7b52e9763",
    "565be843d5f231d37a037ee6d5276dc1618b5ca3",
    "3dc1703d218fdc6c1cdaa1b32dbd6c143554ba4b",
    "b8b4f68a4e9d9189552e70c508c92cf7b52e9763",
    "6be2cbc811bf3106c51ebaf154442d1d231a0104",
    "0bc958169c77733b5d22bcc860e426713c9b6fda",
    "5894d3c795fc475b23fbb4e5dca1b59cd6222254",
    "1e2c80f572c79b91ed4801932da6e6b2c95545ac",
    "b5de24be04dcbef2becdcbbcdf32fcd4ed61ca4d",
    "9fc0341d2c44a0c2177983cd56ae57c7bf6f35b9",
    "0db48d6ae29035a62ce460ac40b7b05adab99c29",
    "521dca9f2cdc2962c37237d09c8126fa39c56e1b",
    "aa1b30af054fabf370fe5ca265296e9354844847",
    "1092b755f939893d459dc8b136e8be2b82ecf4ca",
    "7685064d832ced149c5c04e95bcebe5f005d2c46",
    "1580d744fe8cc25c876e2742db5be8b0e22801c9",
    "25ea58cb4cd034077dfbfd6bfcc13eff2ea5d3b0",
    "12d4a23b27ab8722ca8550c755048ebf5ca242a8",
    "e8d1b8c9e9767c35e3c6729f196e9407e5d9a988",
    "4c971f1076e39845c1643cdcf41d2287e1ea4961",  # @Thumbnails
    "2ad860f494345417824e30eb85f4ce7d1fea9cff",  # @Thumbnails2
    "f2cf43b86b9d70175dc22dbb9ff7806241d90780",  # @Thumbnails3
]
BLOCKED_CLAIMS = ["1fad0acce83a4006ad46788bfc3de197bf421a21"]


def process_blocked_list(
    cindex: CompressedIndex,
    docs_source: DataFrame | None = None,
    outpoints: list[str] | None = None,
    claim_id_col: str = "claim_id",
    publisher_col: str = "channel_claim_id",
    tx_col: str = "transaction_hash_update",
    vout_col: str = "vout_update",
    extra_channels: list[str] = BLOCKED_CHANNELS,
    extra_claims: list[str] = BLOCKED_CLAIMS,
    list_name: str = "blockedlist_sync",
) -> CompressedIndex:
    """The blocked/filtered-list job (P12; blocked.go:56-180):

    - ``outpoints`` ("txid:vout" strings — the internal-apis fetch leg,
      injected by the caller so the environment-specific HTTP client
      stays out of the engine) resolve to claim ids via the chainquery
      claim table analogue (``docs_source``, or the index's own docs);
    - every resolved claim is deleted AND expanded as a channel
      (blocked.go:122-141 deletes all claims with publisher_id =
      claimID — harmless no-op for non-channels);
    - the static blocklists (verbatim constants above) delete the
      channels' content and the listed claims directly.

    Everything lands in ONE apply_incremental delete batch. The
    blocklist frames are driver-literal and tiny → broadcast semi-joins
    against the corpus; the corpus itself is never collected."""
    from lighthouse_spark.api import metrics

    metrics.JobLoad.inc(list_name)
    t_job = time.time()
    try:
        spark = cindex.spark
        docs = docs_source if docs_source is not None else cindex.docs
        id_col = cindex.manifest["doc_id_col"]

        resolved = None
        if outpoints:
            # outpoints are explicit caller intent; a blocklist that
            # silently skips them is fail-open on a compliance path —
            # misconfiguration must be loud
            missing = [
                c for c in (claim_id_col, tx_col, vout_col) if c not in docs.columns
            ]
            if missing:
                raise ValueError(
                    f"process_blocked_list: outpoints given but docs_source "
                    f"lacks column(s) {missing}"
                )
        if outpoints:
            rows = []
            for op in outpoints:
                tx, _, vout = str(op).partition(":")
                rows.append((tx, int(vout or 0)))
            ops = local_frame(spark, rows, "_tx string, _vout long")
            resolved = (
                docs.join(
                    F.broadcast(ops),
                    (docs[tx_col] == F.col("_tx")) & (docs[vout_col] == F.col("_vout")),
                    "left_semi",
                )
                .select(F.col(claim_id_col).alias("_cid"))
                .distinct()
            )

        def lits(vals):
            return local_frame(spark, [(v,) for v in sorted(set(vals))], "_cid string")

        direct = [f for f in (resolved, lits(extra_claims) if extra_claims else None) if f is not None]
        chans = [f for f in (resolved, lits(extra_channels) if extra_channels else None) if f is not None]

        del_parts = []
        if direct and claim_id_col in docs.columns:
            del_parts.append(
                docs.join(
                    F.broadcast(_union(direct).distinct()),
                    docs[claim_id_col] == F.col("_cid"),
                    "left_semi",
                ).select(F.col(id_col).alias("doc_id"))
            )
        if chans and publisher_col in docs.columns:
            del_parts.append(
                docs.join(
                    F.broadcast(_union(chans).distinct()),
                    docs[publisher_col] == F.col("_cid"),
                    "left_semi",
                ).select(F.col(id_col).alias("doc_id"))
            )
        if not del_parts:
            return cindex
        return apply_incremental(cindex, delete_ids=_union(del_parts).distinct())
    finally:
        metrics.JobLoad.dec(list_name)
        metrics.job(t_job, list_name)


# --- enrichment counts (S11; views.go/subs.go) -----------------------------

def patch_counts(
    src: DataFrame, counts: DataFrame, doc_cols: list[str], id_col: str
) -> DataFrame:
    """LEFT-join `src` doc rows against the counts frame and coalesce
    the updated columns. NO broadcast hint: the reference's enrichment
    sweep updates EVERY doc every 6 h (views.go:25-44), so at scale
    `counts` is corpus-sized — both sides shuffle-join on doc_id and
    AQE may still broadcast a genuinely small counts frame at runtime.
    Plan-pinned by tests/test_sync.py."""
    update_cols = [c for c in counts.columns if c != "doc_id"]
    joined = src.alias("d").join(
        counts.alias("c"),
        F.col(f"d.{id_col}") == F.col("c.doc_id"),
        "left",
    )
    sel = []
    for col in doc_cols:
        if col in update_cols:
            sel.append(F.coalesce(F.col(f"c.{col}"), F.col(f"d.{col}")).alias(col))
        else:
            sel.append(F.col(f"d.{col}").alias(col))
    return joined.select(*sel)


def apply_counts(cindex: CompressedIndex, counts: DataFrame) -> CompressedIndex:
    """Partial update of ranking counters (view_cnt/sub_cnt) — touches
    stored fields only, postings untouched (claim.go:154-157 partial
    update semantics). With the bucketed docs layout only the buckets
    holding updated docs are rewritten; bucket row counts are
    unchanged (left join preserves every row).

    Scale note: the reference's full enrichment sweep touches every
    doc (views.go:25-44 iterates the whole claim table), so "touched
    buckets" degenerates to ALL buckets — that cadence is inherently
    O(corpus) writes and is the reference's own contract. What must
    NOT be O(corpus) is the join strategy: counts shuffle-joins
    (patch_counts), never a forced corpus-size broadcast."""
    docs = cindex.docs
    cur = cindex.manifest
    id_col = cur["doc_id_col"]
    snap = uuid.uuid4().hex[:12]
    new_dir = f"docs_v_{snap}"
    bucket_map = cur["docs_buckets"]
    nb = int(cur["n_buckets"])
    tb = (
        counts.select(
            F.pmod(F.col("doc_id").cast("long"), F.lit(nb)).cast("int").alias("_b")
        )
        .distinct()
        .collect()
    )
    touched = sorted(int(r["_b"]) for r in tb if str(int(r["_b"])) in bucket_map)
    if not touched:
        return cindex
    src = cindex.spark.read.parquet(
        *[f"{cindex.path}/{bucket_map[str(b)]}" for b in touched]
    )
    (
        patch_counts(src, counts, docs.columns, id_col)
        .withColumn(
            "_bucket", F.pmod(F.col(id_col).cast("long"), F.lit(nb)).cast("int")
        )
        .repartition(max(len(touched), 1), F.col("_bucket"))
        .write.mode("overwrite")
        .partitionBy("_bucket")
        .parquet(f"{cindex.path}/{new_dir}")
    )

    def edit(man):
        for b in touched:
            man["docs_buckets"][str(b)] = f"{new_dir}/_bucket={b}"
        man.setdefault("lineage", []).append({"snapshot": snap, "op": "enrichment"})

    return cindex._next(edit)
