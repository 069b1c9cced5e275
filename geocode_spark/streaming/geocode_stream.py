"""Structured Streaming integration.

The reference has no streaming (SURVEY.md §2.9); the engine's operators are
stateless per-row after broadcast joins, so they lift directly into
Structured Streaming:

* ``geocode_pages_stream`` — a streaming pages source (files/Kafka/Iceberg
  CDC) through the full document pipeline via ``foreachBatch``. Reused
  across micro-batches: the prepared region sets, each holding its one
  broadcast cover index (a worker keeps it loaded while its tasks use
  it), and the prepared CPO dimensions ``dims``, so no batch aggregates
  the CPO or re-broadcasts a region set. Each batch
  plans afresh, with its own broadcast joins of ``dims``, and is the same
  fact-side shuffle-free plan as batch mode.
* ``windowed_mention_counts`` — a native streaming windowed aggregation
  (watermark + tumbling window) over extracted postcode mentions: the
  'streaming analytics' surface (late data handled by the watermark).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..operators.pipeline import extract_postcode_mentions, geocode_documents


def geocode_pages_stream(pages_stream: DataFrame,
                         dims: tuple[DataFrame, DataFrame],
                         llsoa_prep=None, gsp_prep=None,
                         checkpoint_dir: str = None, output_dir: str = None,
                         trigger_available_now: bool = True):
    """Run the document pipeline over a streaming pages DataFrame.

    Returns the started StreamingQuery. Output is parquet (append) —
    idempotent per micro-batch via the checkpoint. ``dims`` (from
    ``forward_geocode.load_dims`` or ``prepare_dims``) goes to every
    batch's ``geocode_documents``.
    """
    def process(batch_df: DataFrame, batch_id: int):
        out = geocode_documents(batch_df, dims, llsoa_prep, gsp_prep)
        # batch_id-keyed overwrite: a micro-batch replayed after a crash
        # rewrites its own directory instead of appending duplicates —
        # this, not the checkpoint alone, is what makes the sink idempotent
        out.write.mode("overwrite").parquet(f"{output_dir}/batch={batch_id}")

    writer = (pages_stream.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_mention_counts(pages_stream: DataFrame,
                            window: str = "1 hour",
                            watermark: str = "2 hours") -> DataFrame:
    """Streaming tumbling-window counts of postcode mentions per window.

    Pure streaming-native plan: watermark -> explode (stateless) ->
    windowed groupBy (state store). Late pages beyond the watermark drop.
    """
    # parquet written without a timezone carries TIMESTAMP_NTZ, which event
    # time watermarks reject — normalize to TIMESTAMP
    stream = pages_stream.withColumn("warc_ts",
                                     F.col("warc_ts").cast("timestamp"))
    mentions = extract_postcode_mentions(
        stream.withWatermark("warc_ts", watermark))
    return (mentions
            .groupBy(F.window("warc_ts", window).alias("w"), "postcode")
            .agg(F.count("*").alias("n_mentions"))
            .select(F.col("w.start").alias("window_start"), "postcode",
                    "n_mentions"))
