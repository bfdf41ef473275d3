"""Streaming sources (SURVEY §2.1 S1).

The reference consumes Kafka topics (env/BaseFlink.java:107-129).  The same
pipelines here read any Structured Streaming source; for the fixture tables
the file source stands in for Kafka (TESTDATA.md), with ``availableNow``
used by tests to drain it deterministically.  A real deployment swaps
``read_events_stream`` for ``parse_kafka_events(kafka_events_reader(...)
.load())`` (see ``sources.kafka`` — option map, SASL wiring, and the wire
parse stage, all statically tested) — every transform downstream is
source-agnostic (unified batch/streaming API).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stand-in for the Kafka `data_upload` topic.

    ``maxFilesPerTrigger`` is the operational analogue of the reference's
    1000-count early-fire trigger (time/TimeCountMessageTrigger.java:46-104):
    it caps micro-batch size; batch cadence comes from the trigger interval.

    The file source needs an explicit schema; read it from the parquet
    footer (one driver-side metadata fetch) so the stream adapts to either
    ts encoding the fixture has shipped (int64 nanos vs TIMESTAMP micros) —
    see ``sources.batch.normalize_event_ts``.

    Whether ``<sf_dir>/events.parquet`` exists is asked of the Hadoop
    FileSystem of the session's Hadoop conf (any scheme the read itself
    supports), so a missing file is never read: reading it would log a
    "no metadata directory" trace at every stream start, and catching the
    read's error would also swallow unrelated read failures.
    """
    from .batch import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src_dir = sf_dir
    events = f"{sf_dir}/events.parquet"
    path = spark._jvm.org.apache.hadoop.fs.Path(events)
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    if path.getFileSystem(hconf).exists(path):
        probe = spark.read.parquet(events)
        raw_schema = probe.schema
        files = probe.inputFiles()
        if files and not files[0].rstrip("/").endswith("/events.parquet"):
            # Spark-written layout: events.parquet is a DIRECTORY of
            # part-*.parquet files (the probe's input files live INSIDE it).
            # pathGlobFilter matches leaf file NAMES, so the events.parquet
            # glob would match nothing — stream from inside the directory
            # instead (same silent-empty bug class as the bare-part-files
            # fallback below).  Layout detection uses the probe's own
            # inputFiles(), not os.path, so file:/ hdfs:/ s3a:/ URIs all
            # classify correctly.
            src_dir, glob = events, "*.parquet"
        else:
            glob = "events.parquet"
    else:
        # sf_dir may hold bare part files (tests chunk the fixture); any
        # footer in the directory carries the same events schema.  The
        # events.parquet glob would match ZERO of those files and yield a
        # stream that silently never emits — widen it with the schema probe.
        raw_schema = spark.read.parquet(sf_dir).schema
        glob = "*.parquet"
    reader = spark.readStream.schema(raw_schema).option("pathGlobFilter", glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_event_ts(reader.parquet(src_dir))
