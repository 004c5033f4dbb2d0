"""Structured-Streaming ingest for incremental document arrival.

The reference is strictly batch (SURVEY.md §2.9) — nothing in parity
needs streaming — but the stage layout is incremental-friendly by
design, and this module is the door: a file-source stream of
interleaved documents runs the SAME detection stage (`mapInArrow`
works identically on streaming DataFrames) and appends mention rows;
downstream linking then runs as periodic batch over the mention delta.

At cluster scale the source would be an Iceberg/Kafka stream; the
checkpointLocation carries exactly-once file tracking either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ontology_matcher_spark.operators.mention_detect import detect_mentions
from ontology_matcher_spark.schemas import DOCUMENTS


def stream_documents(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of document parquet drops."""
    return (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )


def stream_mentions(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    dictionary,
) -> StreamingQuery:
    """documents stream → mention rows, append-mode parquet sink.

    ``dictionary``: a Broadcast of `build_dictionary(...)` OR a
    detection-artifact path (`write_detection_artifact`) — the
    streaming scan uses the identical per-executor lazy-load path as
    batch detection."""
    docs = stream_documents(spark, input_dir)
    mentions = detect_mentions(docs, dictionary)
    return (
        mentions.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
