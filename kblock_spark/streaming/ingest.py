"""Structured Streaming ingest of the Common-Crawl-style pages table.

The reference is a batch system (SURVEY §2.9 — no streaming
operators), but a 10¹²-document crawl table GROWS: new WARC drops land
continuously. This module is the incremental-ingest path the batch
pipeline composes with:

  file-source stream of pages parquet
    → extract_text / geocode (the SAME Arrow-batched kernels the
      batch path uses — one implementation, two execution modes)
    → event-time (warc_ts) windowed per-tile rollup with a watermark
      bounding late-arrival state
    → exactly-once parquet sink via checkpointLocation

Late data: warc_ts is the event time; the watermark drops pages later
than the configured bound and caps the state store size — without it
a 10¹²-row stream accumulates unbounded window state.

Exactly-once: the file sink + checkpoint directory give end-to-end
exactly-once for file sources (Spark's own guarantee), the streaming
analogue of io/manifest.py's per-key overwrite resume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..geo.tiling import DEFAULT_CELL_DEG, cell_expr
from ..io.synth import PAGES_SCHEMA
from ..kernels.extract import extract_text_udf, with_geocode


def read_pages_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Incremental scan of a growing pages directory (the Iceberg
    append-stream analogue: each micro-batch reads only new files)."""
    r = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(path)


def stream_tile_rollup(
    pages: DataFrame,
    cell_deg: float = DEFAULT_CELL_DEG,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """pages stream → (window, cell, n_pages, n_langs) with bounded
    late-data state. Uses the batch kernels (extract/geocode/cell)
    unchanged — pandas UDFs and Catalyst expressions are
    mode-agnostic."""
    ex = pages.withColumn("text2", extract_text_udf(F.col("html")))
    pts = with_geocode(ex, "text2").where(
        F.col("lat").isNotNull() & F.col("lon").isNotNull()
    )
    pts = pts.withColumn("cell", cell_expr(F.col("lon"), F.col("lat"), cell_deg))
    return (
        pts.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "cell")
        .agg(
            F.count("*").alias("n_pages"),
            F.size(F.collect_set("lang")).alias("n_langs"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "cell",
            "n_pages",
            "n_langs",
        )
    )


def run_stream_to_parquet(
    rollup: DataFrame,
    out_path: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Drain the stream exactly-once into parquet. With
    available_now=True processes everything currently in the source
    and stops (the batch-catchup trigger); otherwise runs continuous
    micro-batches."""
    w = (
        rollup.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        q = w.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return w.trigger(processingTime="10 seconds").start()


def idempotent_parquet_sink(out_path: str):
    """foreachBatch sink that is safe under micro-batch RETRY.

    A plain ``mode("append")`` foreachBatch sink duplicates rows when
    Spark re-runs a batch after a failure (foreachBatch is
    at-least-once; the checkpoint only guarantees the batch ids
    replay, not that side effects ran once). Writing each batch into
    its own ``__batch_id=<n>`` partition with DYNAMIC partition
    overwrite makes the retry overwrite exactly its own partition and
    nothing else — per-batch idempotence, the streaming analogue of
    io/manifest.py's per-key overwrite resume.

    Readers: ``spark.read.parquet(out_path)`` (partition discovery
    surfaces ``__batch_id``; drop or ignore it).
    """

    def sink(batch_df: DataFrame, batch_id: int):
        (
            batch_df.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(out_path)
        )

    return sink
