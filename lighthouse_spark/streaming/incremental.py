"""Structured-Streaming ingestion into the live index.

The reference has NO stream semantics — its sync is a 15-minute cron
re-scanning `id > ? AND modified_at >= ?` (ref: /root/reference/app/
jobs/cron.go:18; chainquery.go:67-68) with idempotent upsert by doc id
(claim.go:142-157). The faithful Spark-native analogue is a
file-source stream with Trigger.AvailableNow + foreachBatch into the
same MERGE path the batch sync uses (SURVEY.md §2.8):

- `readStream` over a drop-directory of parquet batches — Spark's
  checkpoint tracks which files were consumed (the LastID cursor
  analogue, but exactly-once).
- each micro-batch routes Spent/Expired→delete else upsert
  (chainquery.go:127-131) and applies via sync.apply_incremental —
  idempotence comes from doc-id tombstoning, matching the reference's
  `_id`-keyed ES bulk upserts.
- AvailableNow processes everything present then stops: exactly the
  semantics of one cron firing; run it on a schedule and you have the
  reference's loop, run it with a continuous trigger and you have a
  live tail — the pipeline body is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lighthouse_spark.sources import sync as sync_mod
from lighthouse_spark.sources.store import CompressedIndex


def run_available_now(
    cindex: CompressedIndex,
    source_dir: str,
    checkpoint_dir: str,
    schema=None,
    bid_state_col: str | None = "bid_state",
) -> CompressedIndex:
    """One AvailableNow pass: ingest all unconsumed files under
    ``source_dir`` into the index. Returns the updated handle.

    The index handle is rebound per batch (manifest advances); the
    streaming checkpoint guarantees each file is merged exactly once
    even across restarts — together with tombstone idempotence this is
    strictly stronger than the reference's at-least-once re-scan."""
    spark = cindex.spark
    if schema is None:
        schema = cindex.docs.schema  # StructType accepted directly

    state = {"ci": cindex}

    def process(batch: DataFrame, batch_id: int) -> None:
        # ONE metadata collect per micro-batch (bounded by batch size):
        # routing + the id lists apply_incremental needs — no
        # isEmpty/count probe jobs
        doc_col = state["ci"].manifest["doc_id_col"]
        routed = bid_state_col and bid_state_col in batch.columns
        sel = [F.col(doc_col).cast("long").alias("_id")]
        if routed:
            sel.append(F.col(bid_state_col).alias("_bs"))
        meta = batch.select(*sel).collect()
        if not meta:
            return
        up_ids, del_ids, upserts = sync_mod._route(
            batch, meta, bid_state_col if routed else None
        )
        state["ci"] = sync_mod.apply_incremental(
            state["ci"], upserts=upserts, up_id_list=up_ids, del_id_list=del_ids
        )

    stream = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination()
    return state["ci"]
