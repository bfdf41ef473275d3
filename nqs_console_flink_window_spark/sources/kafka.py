"""Kafka source/sink wiring (SURVEY §2.1 S1/S6).

The reference consumes the ``data_upload`` topic with a SASL/SCRAM
FlinkKafkaConsumer (env/BaseFlink.java:107-129) and produces "data saved"
JSON messages back to Kafka (AbstractDataParser.java:146-159).  This module
is the Structured-Streaming equivalent: option construction, reader/writer
builders, and the wire-format parse stage.

The connector jar (``spark-sql-kafka-0-10``) is not bundled in this
container, so ``.load()``/``.start()`` cannot execute here — but everything
up to them is plain configuration plus ordinary DataFrame transforms, and
THOSE are what the tests pin down:

- ``kafka_options`` renders the exact option map (bootstrap servers, SASL
  jaas string, group id) the reference builds from its properties file;
- ``parse_kafka_events`` turns the Kafka source's fixed wire schema
  (key/value binary, topic, partition, offset, timestamp) into the events
  table schema — the transform is identical for a real Kafka batch and the
  simulated one the test feeds it;
- ``kafka_events_reader`` / ``kafka_sink_writer`` assemble the readStream/
  writeStream builders a real deployment launches unchanged.

At 100 TB/day the scale knobs are partitions-per-topic (Spark maps one task
per Kafka partition), ``maxOffsetsPerTrigger`` (micro-batch cap — the
count-trigger analogue), and ``minPartitions`` to split hot partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .formats import EVENTS_SCHEMA

# The Kafka source's fixed output schema (Spark docs; stable across
# releases) — what ``format("kafka").load()`` yields and what the simulated
# wire batches in tests must match.
KAFKA_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ]
)



def kafka_options(
    topic: str,
    servers: str,
    port: str | int = 9092,
    username: str = "",
    password: str = "",
    security_protocol: str = "SASL_PLAINTEXT",
    sasl_mechanism: str = "SCRAM-SHA-256",
    job_name: str = "nqs-console",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The reference's consumer properties (BaseFlink.java:109-128) as
    Spark Kafka source options.  Spark prefixes passthrough client configs
    with ``kafka.``; group id becomes ``kafka.group.id`` (Spark manages its
    own offsets — enable.auto.commit has no Spark equivalent and is
    deliberately dropped rather than silently ignored)."""
    opts = {
        "subscribe": topic,
        "kafka.bootstrap.servers": f"{servers}:{port}",
        "kafka.group.id": f"{job_name}-{topic}2",
        "startingOffsets": "latest",
        "failOnDataLoss": "false",
    }
    if username:
        jaas = (
            "org.apache.kafka.common.security.scram.ScramLoginModule required "
            f'username="{username}" password="{password}";'
        )
        opts.update(
            {
                "kafka.sasl.jaas.config": jaas,
                "kafka.security.protocol": security_protocol,
                "kafka.sasl.mechanism": sasl_mechanism,
            }
        )
    if max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def parse_kafka_events(wire: DataFrame) -> DataFrame:
    """Wire -> events table: cast the binary value to string, parse the
    JSON payload, project to the canonical events schema.  Works on a real
    Kafka micro-batch and on any DataFrame with the same wire schema."""
    return (
        wire.select(
            F.from_json(F.col("value").cast("string"), EVENTS_SCHEMA).alias("e")
        )
        .select("e.*")
    )


def kafka_events_reader(spark: SparkSession, topic: str, servers: str, **kw):
    """S1 — the readStream builder a deployment launches as
    ``parse_kafka_events(kafka_events_reader(...).load())``."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_options(topic, servers, **kw).items():
        reader = reader.option(k, v)
    return reader


def kafka_sink_writer(df: DataFrame, topic: str, servers: str, **kw):
    """S6 — the writeStream builder for the outbound JSON payload
    (sinks.writers.kafka_payload shapes the value column)."""
    from ..sinks.writers import kafka_payload

    writer = kafka_payload(df).writeStream.format("kafka")
    # Source/consumer-only options must not leak into the producer:
    # subscribe/startingOffsets/failOnDataLoss/maxOffsetsPerTrigger are
    # read-side Spark options, and kafka.group.id is a consumer config the
    # Kafka producer client would warn about on every start.
    source_only = (
        "subscribe",
        "startingOffsets",
        "failOnDataLoss",
        "maxOffsetsPerTrigger",
        "kafka.group.id",
    )
    for k, v in kafka_options(topic, servers, **kw).items():
        if k in source_only:
            continue
        writer = writer.option(k, v)
    return writer.option("topic", topic)
