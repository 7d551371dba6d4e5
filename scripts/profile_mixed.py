"""Profile the bm25_mixed_200k outlier (VERDICT r5 What's-wrong #1).

Builds the same 200k-doc code-corpus compressed index bench.py uses,
then dissects the dense 6-term query vs its siblings:
  - end-to-end wand_topk latency (N repeats, with loadavg recorded)
  - driver-side kernel replay: collect the query's blocks once, run
    _kernel per shard in-process -> isolates kernel math from Spark
    scan/dispatch
  - kernel internals: candidate counts, essential-list sizes, theta
Prints one JSON line.
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time

import numpy as np
import pandas as pd
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    big_n = int(os.environ.get("SPARK_GRAFT_BIG_TIER", "200000"))

    from lighthouse_spark import get_spark
    from lighthouse_spark.functions.analysis import tokenize_text
    from lighthouse_spark.operators import wand
    from lighthouse_spark.plans.indexer import FieldSpec
    from lighthouse_spark.sources.corpus import synthetic_corpus
    from lighthouse_spark.sources.store import build_and_save

    spark = get_spark("profile-mixed", cpus=cpus, shuffle_partitions=cpus)
    out: dict = {"loadavg_start": os.getloadavg()[0], "n_docs": big_n}

    big = synthetic_corpus(spark, big_n, partitions=4 * cpus).cache()
    big.count()
    workdir = tempfile.mkdtemp(prefix="profile_mixed_")
    t0 = time.time()
    ci = build_and_save(
        big, "doc_id", {"content": FieldSpec("content", positions=True)},
        f"{workdir}/idx", mode="code", n_shards=2 * cpus,
    )
    out["build_sec"] = round(time.time() - t0, 3)
    big.unpersist()

    queries = {
        "bm25_common": "the return license",
        "bm25_mixed": "getUserName parseHttpRequest",
        "bm25_rare": "sym7 sym42 merge",
    }
    wand.wand_topk(ci, "content", ["warm"], k=10).collect()

    # --- end-to-end timings, 4 repeats each
    for name, q in queries.items():
        terms = tokenize_text(q, "code")
        reps = []
        for _ in range(4):
            t0 = time.time()
            wand.wand_topk(ci, "content", terms, k=10).collect()
            reps.append(round(time.time() - t0, 3))
        out[name + "_reps"] = reps

    # --- dissect the mixed query: scan-only vs kernel-only
    from pyspark.sql import functions as F

    terms = tokenize_text(queries["bm25_mixed"], "code")
    uniq = sorted(set(terms))
    n, avgdl = ci.corpus_stats()["content"]
    dfm = ci.df_map("content", uniq)
    out["df_per_term"] = {t: dfm.get(t, 0) for t in uniq}
    out["avgdl"] = round(avgdl, 2)

    blocks = ci.postings.filter(
        (F.col("field") == "content") & F.col("term").isin(uniq)
    ).select(
        "shard", "term", "block_id", "n_docs", "doc_ids_enc", "tfs_enc",
        "dls_enc", "max_tfn", "enc_avgdl", "snapshot",
    )
    t0 = time.time()
    pdf = blocks.toPandas()
    out["scan_collect_sec"] = round(time.time() - t0, 3)
    out["n_blocks"] = len(pdf)
    out["sum_block_docs"] = int(pdf["n_docs"].sum())

    from lighthouse_spark.operators.scoring import idf_py

    idf = {t: idf_py(dfm[t], n) for t in uniq if t in dfm}
    qtf = {t: 1.0 for t in idf}
    tomb = ci.tombstones_bc().value

    # kernel replay per shard, in-process
    t0 = time.time()
    tot_cand = 0
    for shard, g in pdf.groupby("shard"):
        g = pa.Table.from_pandas(g, preserve_index=False)
        res = wand._kernel(g, idf, qtf, avgdl, 10, tomb)
        tot_cand += len(res)
    out["kernel_replay_sec"] = round(time.time() - t0, 3)

    # instrument one shard: candidate size vs postings size
    shard0 = pdf[pdf["shard"] == pdf["shard"].iloc[0]]
    from lighthouse_spark.functions import codec

    n_post = 0
    for row in shard0.itertuples(index=False):
        n_post += len(codec.delta_decode(bytes(row.doc_ids_enc)))
    out["shard0_postings"] = n_post
    out["loadavg_end"] = os.getloadavg()[0]
    spark.stop()
    import shutil

    shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    sys.exit(main())
