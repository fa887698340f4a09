"""Document-stream source — bounded replay of the ``documents`` table
as a stream, the ingest shape of a streaming curation pipeline (new
crawl shards arriving continuously). Mirrors
:func:`eventstream_notify_spark.sources.events.file_events_stream`:
file source + declared schema probed from the parquet footer, so the
same downstream operators run against Kafka in production and
deterministic file replay in CI.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from eventstream_notify_spark.catalog import tune_session


def file_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay of documents.parquet as a streaming frame.

    Documents carry no event time; arrival order is the file's row
    order (doc_id ascending in the testdata), which is the ordered-
    replay contract the streaming dedup kernels document."""
    # state-store partition count == shuffle partitions at stream
    # start, sized to the cores (same rationale as file_events_stream)
    tune_session(spark)
    probe = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    schema = ", ".join(f"{n} {t}" for n, t in probe.dtypes)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
