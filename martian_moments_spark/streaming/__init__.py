"""Structured Streaming surface (SURVEY.md §2.10, §3.2).

The reference's event fabric — MinIO put-events → Kafka topics →
Airflow-triggered DAGs — collapses in Spark to:

- file-arrival sources: ``readStream.schema(s).json(dir)`` replaces
  the MinIO→Kafka event hop (E3); Spark's own file discovery +
  checkpoint is the event log.
- kafka source/sink wrappers for the three control-message topics
  (E1/E2/S7/S8) — buildable only when a broker exists; the wrappers
  gate on the kafka package being available.
- sinks: each micro-batch ≈ one reference DAG run (E1). The append
  sink is Spark's exactly-once file sink (E7); the keyed upsert is
  ``lakehouse.upsert_sink`` (E8), one commit-log version per batch,
  and that commit entry is the load-complete record (E9).
- watermarked windows + the gap-detection feedback loop (E6) for
  late/missing data.
"""

from martian_moments_spark.streaming.sources import (  # noqa: F401
    KAFKA_SOURCE_FIELDS,
    file_json_stream,
    kafka_contract_stream,
    kafka_stream,
    parse_kafka_frame,
)
from martian_moments_spark.streaming.sinks import append_parquet_sink  # noqa: F401
from martian_moments_spark.streaming.windows import (  # noqa: F401
    dedup_within_watermark,
    watermarked_interval_join,
    watermarked_session_agg,
    watermarked_tumbling_agg,
)
