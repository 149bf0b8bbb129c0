"""Streaming incremental dedup: classify a document stream against a
prebuilt corpus index as it arrives.

The production ingest pattern behind the batch ``dedup_incremental`` query,
run continuously: new documents stream in (file source / Kafka), each
micro-batch is classified exact_dup / near_dup / novel against the SAME
offline-built index relations (fingerprint table, banded MinHash signature
table, shingle-set table — ``operators.dedup.incremental_classify``), and
the labeled rows append to a sink. The reference has no streaming engine
(SURVEY §2.10); this extends its ingest surface the way plans/events.py
extends its query surface.

Shape choices, stated honestly:

- ``foreachBatch`` rather than a stream-static join chain: the near leg
  needs a pandas-UDF signature stage, a bucket self-join-style probe and a
  per-doc top-1 window — all fine per micro-batch, not expressible as one
  incremental streaming plan. foreachBatch is the Spark-sanctioned way to
  reuse a batch transform over micro-batches with exactly-once file sinks.
- Each micro-batch probes the STATIC corpus index. Cross-batch duplicates
  within the stream are handled upstream by
  ``events.dedup_within_watermark``-style fingerprint dedup (exact only);
  folding accepted novel docs back into the near-dup index is an index
  MAINTENANCE job (periodic re-build / append of band rows), not a
  per-record operation — at 100 TB you batch index updates, you don't
  rewrite LSH tables per document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from connected_data_lake_spark.operators import dedup as DD
from connected_data_lake_spark.sources.tables import release_index


def classify_stream(
    docs_stream: DataFrame,
    fp_index: DataFrame,
    band_index: DataFrame,
    corpus_shingles: DataFrame,
    out_path: str,
    checkpoint_path: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Wire a streaming DataFrame of documents through per-micro-batch
    incremental classification into a parquet append sink. Returns the
    started :class:`~pyspark.sql.streaming.StreamingQuery` (callers pick
    the trigger via ``.trigger`` upstream options; tests use
    ``availableNow`` semantics by awaiting termination)."""

    def _classify(batch_df: DataFrame, epoch_id: int) -> None:
        out = DD.incremental_classify(
            batch_df,
            fp_index,
            band_index,
            corpus_shingles,
            text_col=text_col,
            id_col=id_col,
            threshold=threshold,
        )
        out.write.mode("append").parquet(out_path)
        release_index(out)

    return (
        docs_stream.writeStream.foreachBatch(_classify)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
