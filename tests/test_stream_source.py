"""``read_events_stream`` decides its layout by asking the filesystem,
not by reading a path that may be missing."""

from pyspark.sql.readwriter import DataFrameReader

from nqs_console_flink_window_spark.config import SMOKE_SF_DIR
from nqs_console_flink_window_spark.sources.streams import read_events_stream


def test_bare_part_files_never_read_missing_events_parquet(
    spark, tmp_path, monkeypatch
) -> None:
    """On a directory of bare part files the schema comes from the
    directory itself; ``<dir>/events.parquet`` does not exist and is never
    passed to a read (reading it logs a "no metadata directory" trace,
    and a caught read error would hide real read failures)."""
    src = str(tmp_path / "src")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(f"{SMOKE_SF_DIR}/events.parquet").repartition(2).write.parquet(src)

    read_paths: list[str] = []
    parquet = DataFrameReader.parquet

    def recording_parquet(self, *paths, **options):
        read_paths.extend(str(p) for p in paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", recording_parquet)
    stream = read_events_stream(spark, src)

    assert stream.isStreaming
    assert read_paths == [src]
    assert not any(p.endswith("events.parquet") for p in read_paths)
