"""The three reference job topologies (SURVEY §3) as unified
batch/streaming pipelines.

Each topology is a pure ``DataFrame -> DataFrame`` transform (shared by the
batch query registry and the streaming jobs) plus a thin streaming runner
that applies it per micro-batch via ``foreachBatch`` — the Spark-idiomatic
replacement for the reference's hand-built window/sink graph:

- 10 s batching   -> ``trigger(processingTime='10 seconds')`` (tests use
  ``availableNow`` to drain deterministically)
- 1000-count fire -> ``maxFilesPerTrigger``/``maxOffsetsPerTrigger`` cap
- RocksDB state   -> ``checkpointLocation``
- Redis dim cache -> dimension DataFrame broadcast per micro-batch

Every foreachBatch runner here (the three topologies and the 13 ingest,
index and monitoring runners after them) starts through one driver,
``_run_foreach_batch``: it owns the writeStream -> foreachBatch ->
checkpoint -> trigger -> start -> await sequence and the one empty-batch
probe, so a runner only names its stream, checkpoint and per-batch body.

Topologies (reference entry points):
1. task-data  (startup/ConsoleTaskDataMain.java:50-86)  — validate, enrich,
   score, window-aggregate, land facts.
2. heartbeat  (startup/ConsoleProbeHeartDataMain.java:49-90) — route by
   probe existence into register/heartbeat branches (R1), derive status,
   land heartbeat rows + new-probe registrations.
3. probe-info (startup/ConsoleProbeInfoDataMain.java:52-119) — 4-way
   content-based fan-out (R2) to per-branch sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import parse as P
from ..operators.windows import qsum_col, tumbling_agg
from ..sources.batch import load_table
from ..sources.streams import read_events_stream
from ..sinks import writers as W


def _run_foreach_batch(
    stream: DataFrame,
    checkpoint_dir: str,
    body,
    *args,
    skip_empty: bool = True,
    available_now: bool = True,
) -> None:
    """Run ``body(bspark, batch_df, batch_id, *args)`` on every micro-batch
    of ``stream`` and block until the query stops.

    ``bspark`` is ``batch_df.sparkSession``: foreachBatch hands over a
    DataFrame bound to the micro-batch's CLONED session; temp views
    registered on it (band_table) resolve only there, so every op in a body
    must use that session, never the runner's ``spark``.

    ``skip_empty`` drops a zero-row micro-batch before ``body`` sees it, with
    one ``isEmpty()`` probe: a single Spark job, where a limit-1 count runs
    two.  ``available_now`` drains what the source holds and stops (tests,
    backfills); otherwise the 10 s processing-time trigger runs forever.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if skip_empty and batch_df.isEmpty():
            return
        body(batch_df.sparkSession, batch_df, batch_id, *args)

    trigger = {"availableNow": True} if available_now else {"processingTime": "10 seconds"}
    (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
        .awaitTermination()
    )


# ---------------------------------------------------------------------------
# Topology 1 — task data (the flagship §3.1 lifecycle)
# ---------------------------------------------------------------------------

PROTO_EXPR = (
    "CASE WHEN user_id % 5 = 0 THEN 'PING' WHEN user_id % 5 = 1 THEN 'HTTP' "
    "WHEN user_id % 5 = 2 THEN 'GAME' WHEN user_id % 5 = 3 THEN 'SPEED' "
    "ELSE 'UNKNOWN' END"
)


def fact_transform(events: DataFrame, customer: DataFrame, dispatch_sql: str) -> DataFrame:
    """validate (P2) -> broadcast enrich (J1) -> protocol dispatch (R3) ->
    compiled PQ score (Q1-Q4) -> 10 s tumbling window agg (W1)."""
    cust = customer.select("c_custkey", "c_mktsegment")
    v = P.validate(events, ["event_type", "user_id"])
    e = v.join(F.broadcast(cust), v["user_id"] == cust["c_custkey"], "left")
    e = e.withColumn("protocol", F.expr(PROTO_EXPR)).withColumn(
        "score", F.expr(dispatch_sql)
    )
    cnt = F.count(F.lit(1))
    out = tumbling_agg(
        e,
        "ts",
        ["protocol", "c_mktsegment"],
        [
            cnt.alias("cnt"),
            qsum_col("score").alias("sum_score"),
            (qsum_col("score") / cnt).alias("avg_score"),
        ],
    )
    return out.select(
        "w_start", "protocol", "c_mktsegment", "cnt", "sum_score", "avg_score"
    )


def run_fact_stream(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    dispatch_sql: str,
    available_now: bool = True,
) -> None:
    """Streaming runner: same transform per micro-batch, partitioned append.

    The window aggregation runs inside ``foreachBatch`` — per-batch windows,
    exactly the reference's semantics (its windows also only ever saw one
    batch of records; SURVEY §2.4 W1-W3)."""
    events = read_events_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")

    def process(_bspark, batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()  # one scan feeds facts + dead letter
        try:
            out = fact_transform(batch_df, customer, dispatch_sql)
            # Idempotent landing: each micro-batch owns the batch_id=<id>
            # subpath and overwrites it, so a foreachBatch replay after a
            # partial write cannot double-append (foreachBatch is
            # at-least-once; the reference leaned on ReplacingMergeTree for
            # the same repair).  Readers treat batch_id as a partition
            # column and simply project it away.
            W.idempotent_batch_write(
                out.withColumn("w_date", F.to_date("w_start")),
                out_dir,
                batch_id,
                partition_cols=("w_date",),  # day partitions, DDL PARTITION BY test_time_d
            )
            # Dead-letter branch: the badMsg records the reference only logs
            # and drops (DataMessage.java:21-41) land in a rejects table.
            rejects = P.invalid(batch_df, ["event_type", "user_id"])
            if rejects.limit(1).count() > 0:
                W.idempotent_batch_write(rejects, f"{out_dir}_rejects", batch_id)
        finally:
            batch_df.unpersist()

    _run_foreach_batch(
        events, checkpoint_dir, process, skip_empty=False, available_now=available_now
    )


# ---------------------------------------------------------------------------
# Topology 2 — heartbeat / register routing (R1 + W4/W5)
# ---------------------------------------------------------------------------

PROBE_ID_EXPR = "user_id * 12"  # stand-in probe id; some ids unknown to the dim


def split_register_heartbeat(
    events: DataFrame, probe_dim: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """R1 — exists-router: one broadcast left join, two filtered children
    (ProbeExistProcess.java:57-68 without the per-record Redis hit)."""
    probe = probe_dim.select(F.col("c_custkey").alias("probe_key"))
    e = events.withColumn("probe_id", F.expr(PROBE_ID_EXPR))
    joined = e.join(F.broadcast(probe), e["probe_id"] == probe["probe_key"], "left")
    heartbeat = joined.filter(F.col("probe_key").isNotNull()).drop("probe_key")
    register = joined.filter(F.col("probe_key").isNull()).drop("probe_key")
    return register, heartbeat


def heartbeat_rows(heartbeat: DataFrame) -> DataFrame:
    """W4 — per-element heartbeat row: status derivation (T6 stand-in) +
    time buckets (WindowHeartbeatProcessFunction.java:75-170)."""
    return heartbeat.select(
        "event_id",
        "probe_id",
        F.col("ts").alias("heartbeat_time"),
        F.when(F.col("event_type") == "error", F.lit(20))
        .otherwise(F.lit(10))
        .alias("status"),
        F.date_trunc("hour", F.col("ts")).alias("heartbeat_time_h"),
        F.date_trunc("day", F.col("ts")).alias("heartbeat_time_d"),
    )


def register_rows(register: DataFrame, nation: DataFrame) -> DataFrame:
    """W5 — registration: first sighting per unknown probe, geo-enriched,
    synthesized alias (WindowRegisterProcessFunction.java:76-184)."""
    first = register.groupBy("probe_id").agg(
        F.min("ts").alias("first_seen"), F.min("user_id").alias("user_id")
    )
    n = nation.select("n_nationkey", "n_name")
    g = first.join(
        F.broadcast(n), (first["probe_id"] % 25) == n["n_nationkey"], "left"
    )
    alias = F.concat_ws(
        "-", F.col("n_name"), F.lit("临时"), F.substring(F.md5(F.col("probe_id").cast("string")), 1, 8)
    )
    return g.select("probe_id", "first_seen", "user_id", alias.alias("probe_alias"))


def run_heartbeat_stream(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    events = read_events_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    def process(_bspark, batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            register, heartbeat = split_register_heartbeat(batch_df, customer)
            heartbeat_rows(heartbeat).write.mode("append").parquet(f"{out_dir}/heartbeat")
            register_rows(register, nation).write.mode("append").parquet(f"{out_dir}/register")
        finally:
            batch_df.unpersist()

    _run_foreach_batch(events, checkpoint_dir, process, skip_empty=False)


# ---------------------------------------------------------------------------
# Topology 3 — probe-info 4-way fan-out (R2 + W6-W9)
# ---------------------------------------------------------------------------

FANOUT_BRANCHES = {
    # content-based routing stand-in for access/traffic/status/pon presence
    "access": "event_type IN ('signup')",
    "traffic": "event_type IN ('click', 'view')",
    "status": "event_type IN ('error')",
    "pon": "event_type IN ('purchase')",
}


def fanout(events: DataFrame) -> dict[str, DataFrame]:
    """R2 — parse once, N filtered projections of one parent DataFrame
    (ProbeInfoProcess.java:53-81); `main` always emits."""
    out = {name: events.filter(F.expr(pred)) for name, pred in FANOUT_BRANCHES.items()}
    out["main"] = events
    return out


def run_probe_info_stream(
    spark: SparkSession, sf_dir: str, out_dir: str, checkpoint_dir: str
) -> None:
    events = read_events_stream(spark, sf_dir)

    def process(_bspark, batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()  # one scan, five sinks
        try:
            for name, df in fanout(batch_df).items():
                df.write.mode("append").parquet(f"{out_dir}/{name}")
        finally:
            batch_df.unpersist()

    _run_foreach_batch(events, checkpoint_dir, process, skip_empty=False)


# ---------------------------------------------------------------------------
# Event-time windowed aggregation with watermark (the W11 upgrade the
# reference lacks) — native streaming aggregation, no foreachBatch.
# ---------------------------------------------------------------------------


def windowed_counts_stream(events: DataFrame) -> DataFrame:
    return (
        events.withWatermark("ts", "30 seconds")
        .groupBy(F.window("ts", "10 seconds").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("w_start"), "event_type", "cnt")
    )


# ---------------------------------------------------------------------------
# Stream-stream interval join and watermarked stream dedup — the two native
# Structured Streaming operators completing the streaming surface.  The
# reference joins streams only via external state (MySQL/Redis probes at
# process time); the event-time-correct forms are below.  Both bound their
# state stores by watermark, so they run indefinitely at cluster scale.
# ---------------------------------------------------------------------------


def interval_join_stream(
    clicks: DataFrame,
    views: DataFrame,
    key: str = "user_id",
    lookback_sec: int = 60,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Each click pairs with every view of the same user in the preceding
    ``lookback_sec`` seconds (Flink DataStream ``intervalJoin`` semantics —
    the operator family the reference's engine offers but the reference app
    replaces with external-state probes).  Watermarks on BOTH sides plus the
    event-time range predicate let Spark expire join state: a view older
    than watermark + lookback can never match again and is dropped, so
    state is O(rate x lookback), not O(history).
    """
    l_side = clicks.withWatermark("ts", watermark).alias("l")
    r_side = views.withWatermark("ts", watermark).alias("r")
    cond = F.expr(
        f"l.{key} = r.{key} AND "
        f"r.ts BETWEEN l.ts - INTERVAL {lookback_sec} SECONDS AND l.ts"
    )
    return l_side.join(r_side, cond, "inner").select(
        F.col(f"l.{key}").alias(key),
        F.col("l.event_id").alias("click_id"),
        F.col("l.ts").alias("click_ts"),
        F.col("r.event_id").alias("view_id"),
        F.col("r.ts").alias("view_ts"),
    )


def dedup_stream(events: DataFrame, keys: list[str]) -> DataFrame:
    """Streaming A5: drop duplicate keys arriving within the 2-minute
    watermark horizon (``dropDuplicatesWithinWatermark``) — the ingest-side repair
    for an at-least-once Kafka producer, complementing batch last-write-wins
    dedup on read.  State holds one entry per key seen in the horizon and
    is evicted by watermark, unlike plain ``dropDuplicates`` whose state
    grows forever on a stream.
    """
    return events.withWatermark("ts", "2 minutes").dropDuplicatesWithinWatermark(keys)


# ---------------------------------------------------------------------------
# Streaming continuous aggregate — the incremental form of
# plans/queries_timeseries.rollup_cascade: each micro-batch lands its
# minute-grain PARTIAL aggregates (decimal sums — associative, so partials
# from different batches re-aggregate exactly) under an idempotent
# batch_id path; hour-level queries read the rollup, never raw events.
# ---------------------------------------------------------------------------


def minute_rollup_transform(events: DataFrame) -> DataFrame:
    return events.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("bucket_m")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(25,6)")).alias("dsum"),
    )


def run_rollup_stream(events: DataFrame, out_dir: str, checkpoint_dir: str) -> None:
    """Maintain the minute rollup incrementally.  Batches may split a
    minute — the landed rows are partials keyed by (bucket, batch_id),
    merged at read time; replays overwrite their own batch_id subpath."""

    def process(_bspark, batch_df: DataFrame, batch_id: int) -> None:
        W.idempotent_batch_write(minute_rollup_transform(batch_df), out_dir, batch_id)

    _run_foreach_batch(events, checkpoint_dir, process, skip_empty=False)


def hour_rollup_from_minute(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """Answer hour-grain queries from the minute rollup (reads ~1/600th of
    raw at scale); exact because the stored partials stay DECIMAL."""
    m = spark.read.parquet(rollup_dir)
    return m.groupBy(
        "event_type", F.date_trunc("hour", "bucket_m").alias("bucket_h")
    ).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("dsum").cast("double").alias("sum_value"),
    )


def run_cdc_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
) -> None:
    """Streaming MERGE: apply each micro-batch as a CDC changelog onto the
    manifest-versioned table (``sinks/versioned.py``) — the streaming form
    of the batch ``cdc_merge`` query and the Spark-native analogue of a
    Delta streaming MERGE / Paimon changelog ingest.

    Per batch: compact the changelog to last-write-wins per key (ts +
    event_id tiebreak), full-outer-merge it with the current snapshot
    (upserts overwrite, ``event_type = 'error'`` rows tombstone), and commit the
    merged state as a new *overwrite* version.  Re-applying the same batch
    to the already-merged state is a no-op by construction (LWW on
    identical ops), so an at-least-once foreachBatch replay converges to
    the same table — and every committed version stays time-travel
    readable, giving the stream a full audit history for free.

    Scale: the merge joins snapshot vs batch keys — both bucketable on
    ``key_col``; the snapshot read is manifest-pruned, and versions are
    compacted/vacuumed out-of-band (``compact_version``/``vacuum``).
    """
    from pyspark.sql import Window as W_

    from ..sinks import versioned as V

    def apply_batch(bspark, batch_df: DataFrame, _bid: int) -> None:
        wo = W_.partitionBy(key_col).orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        chg = (
            batch_df.withColumn("rn", F.row_number().over(wo))
            .filter(F.col("rn") == 1)
            .select(
                key_col,
                F.when(F.expr("event_type = 'error'"), F.lit("D"))
                .otherwise(F.lit("U"))
                .alias("op"),
                F.col("value").alias("chg_value"),
                F.col("ts").alias("chg_ts"),
            )
        )
        if V.latest_version(table_dir) is None:  # first batch: no snapshot yet
            merged = chg.filter(F.col("op") != "D").select(
                key_col,
                F.col("chg_value").alias("value"),
                F.col("chg_ts").alias("updated_at"),
            )
        else:
            b = V.read_version(bspark, table_dir).select(
                F.col(key_col).alias("bk"), "value", "updated_at"
            )
            merged = (
                b.join(chg, b["bk"] == chg[key_col], "full_outer")
                # drop tombstoned keys; base-only rows have op NULL and
                # must survive (a bare op <> 'D' is NULL there and would
                # silently delete the whole untouched base)
                .filter(F.col("op").isNull() | (F.col("op") != "D"))
                .select(
                    F.coalesce(F.col(key_col), F.col("bk")).alias(key_col),
                    F.coalesce(F.col("chg_value"), F.col("value")).alias("value"),
                    F.coalesce(F.col("chg_ts"), F.col("updated_at")).alias(
                        "updated_at"
                    ),
                )
            )
        V.commit_version(merged, table_dir, mode="overwrite")

    _run_foreach_batch(stream_df, checkpoint_dir, apply_batch)


# ---------------------------------------------------------------------------
# Streaming corpus ingest with cross-batch dedup — the streaming form of
# operators/dedup_text.incremental_dedup: every micro-batch of new documents
# is deduped against the PERSISTED band index (all history, O(batch+index)
# via band semi-join — never re-MinHashing old docs) and against itself,
# then survivors land and their bands extend the index.  This is the shape a
# continuously-crawled training corpus actually ingests under: the index is
# the only state, it lives in the table (bucketable on band_key at scale),
# and Spark streaming state stays empty.
# ---------------------------------------------------------------------------


def _read_prior_batches(bspark: SparkSession, base_dir: str, batch_id: int):
    """Read a batch_id-partitioned landing table restricted to batches
    BEFORE ``batch_id``; None if nothing is landed yet.

    - Only a missing ``base_dir`` means "first batch", checked through the
      Hadoop FileSystem of the session's Hadoop conf (any scheme the read
      itself supports): every read failure (transient store error, corrupt
      footer) must propagate — swallowing it would silently reset the
      derived state (dedup index / token carry) and corrupt everything
      downstream, with the checkpoint then committing the corruption.
    - ``<`` not ``!=``: a replay of the latest uncommitted batch must not
      see its own first-attempt output (self-duplicate wipeout), and a
      restart against an existing table with a FRESH checkpoint (batch ids
      restarting at 0) must re-own, not double-count, the higher-id
      subpaths it replays into.
    """
    path = bspark._jvm.org.apache.hadoop.fs.Path(base_dir)
    hconf = bspark._jsparkSession.sessionState().newHadoopConf()
    if not path.getFileSystem(hconf).exists(path):
        return None
    landed = bspark.read.parquet(base_dir)
    return landed.filter(F.col("batch_id") < batch_id).drop("batch_id")


def ingest_dedup_batch(
    bspark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    kept_dir: str,
    index_dir: str,
) -> DataFrame:
    """One micro-batch's ingest: dedup against the index, land survivors +
    bands under the batch_id subpath.  Replay-convergent: re-running the
    same (batch, batch_id) reproduces the identical subpaths.  Returns
    the survivors frame it landed (a deterministic plan over the gate's
    checkpointed intermediates — equal to the landed subpath by
    construction), so a composing caller can ingest the SAME batch scan
    downstream without a parquet read-back (the round-12 web_curate
    fold)."""
    from ..operators.dedup_text import incremental_dedup

    index = _read_prior_batches(bspark, index_dir, batch_id)
    # kept is checkpointed inside incremental_dedup, so the two landings
    # and the returned frame all read the one materialization
    kept, kept_bands = incremental_dedup(bspark, batch_df, index)
    W.idempotent_batch_write(kept, kept_dir, batch_id)
    W.idempotent_batch_write(kept_bands, index_dir, batch_id)
    return kept


def _ingest_media_batch(
    bspark: SparkSession,
    batch_docs: DataFrame,
    batch_id: int,
    kept_dir: str,
    index_dir: str,
    documents_as,
    read_index,
    gate,
) -> None:
    """The one media ingest body behind the image, video and audio
    callers below, which differ only in the fixture encoder
    (``documents_as``), the index reader and the near-dup ``gate``."""
    from ..operators.image_index import _ingest_bands

    media = documents_as(batch_docs)
    index = read_index(bspark, index_dir)
    if "batch_id" in index.columns:
        index = index.filter(F.col("batch_id") < int(batch_id))
    else:
        index = None  # nothing landed yet (empty frame lacks batch_id)
    kept, kept_bands = gate(bspark, media, index)
    W.idempotent_batch_write(kept, kept_dir, batch_id)
    _ingest_bands(bspark, kept_bands, batch_id, index_dir)


def ingest_image_dedup_batch(
    bspark: SparkSession,
    batch_docs: DataFrame,
    batch_id: int,
    kept_dir: str,
    index_dir: str,
) -> None:
    """One micro-batch's IMAGE ingest (round 10 — the multimodal twin of
    ``ingest_dedup_batch``): decode the batch ONCE, near-dup-gate it
    against the standing dHash band index (verified Hamming <=
    DHASH_MAX_HAMMING — never a corpus re-decode), land survivor ids
    under an idempotent batch_id subpath and the survivors' bands under
    the index's own (bband, batch_id) slices.  Replay-convergent: the
    index read excludes batch_id >= current (the ``_read_prior_batches``
    ``<`` rule — a replay must not see its first attempt's bands and drop
    every survivor as a self-duplicate), and the band landing overwrites
    exactly its own slices."""
    from ..operators import image_index as II
    from ..operators import multimodal as MM

    _ingest_media_batch(
        bspark, batch_docs, batch_id, kept_dir, index_dir,
        MM.documents_as_images, II.read_image_index, II.incremental_image_dedup,
    )


def ingest_video_dedup_batch(
    bspark: SparkSession,
    batch_docs: DataFrame,
    batch_id: int,
    kept_dir: str,
    index_dir: str,
) -> None:
    """One micro-batch's VIDEO ingest — ``ingest_image_dedup_batch`` with
    the frame-augmented band space and the aligned-frame gate
    (operators/video_index.py)."""
    from ..operators import multimodal as MM
    from ..operators import video_index as VI

    _ingest_media_batch(
        bspark, batch_docs, batch_id, kept_dir, index_dir,
        MM.documents_as_videos, VI.read_video_index, VI.incremental_video_dedup,
    )


def ingest_audio_dedup_batch(
    bspark: SparkSession,
    batch_docs: DataFrame,
    batch_id: int,
    kept_dir: str,
    index_dir: str,
) -> None:
    """One micro-batch's AUDIO ingest — ``ingest_image_dedup_batch`` with
    the waveform-fingerprint extractor (operators/audio_index.py)."""
    from ..operators import audio_index as AI
    from ..operators import multimodal as MM

    _ingest_media_batch(
        bspark, batch_docs, batch_id, kept_dir, index_dir,
        MM.documents_as_audio, AI.read_audio_index, AI.incremental_audio_dedup,
    )


def run_image_dedup_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    kept_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming image-corpus ingest gate: per micro-batch, decode ->
    dHash -> verified near-dup check against the persisted band index ->
    land survivors + their bands (``ingest_image_dedup_batch``).  The
    run_incremental_dedup_stream shape applied to the multimodal column —
    the third index family's streaming front door."""
    _run_foreach_batch(
        docs_stream, checkpoint_dir, ingest_image_dedup_batch, kept_dir, index_dir
    )


def run_video_dedup_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    kept_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming video-corpus ingest gate — the fourth index family's
    front door, the run_image_dedup_stream shape over the aligned-frame
    semantics."""
    _run_foreach_batch(
        docs_stream, checkpoint_dir, ingest_video_dedup_batch, kept_dir, index_dir
    )


def run_audio_dedup_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    kept_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming audio-corpus ingest gate — the perceptual-hash family's
    front door over the waveform fingerprint."""
    _run_foreach_batch(
        docs_stream, checkpoint_dir, ingest_audio_dedup_batch, kept_dir, index_dir
    )


def run_incremental_dedup_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    kept_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> None:
    """Per batch: read the current band index, ``incremental_dedup`` the
    batch against it, land survivors + their bands under idempotent
    batch_id subpaths (an at-least-once replay overwrites its own subpath,
    so the index cannot double-grow)."""
    _run_foreach_batch(
        docs_stream, checkpoint_dir, ingest_dedup_batch, kept_dir, index_dir
    )


# ---------------------------------------------------------------------------
# Streaming sequence packing — the incremental form of operators/packing:
# documents arrive in micro-batches (in doc_id order, the ingest contract),
# and each batch's (doc, context-window) assignments continue the global
# token stream exactly where the previous batch ended.  The carry is not
# separate state: it is derived from the landed assignment table itself
# (SUM of n_toks_in_window over prior batches), so the output IS the state
# — replay-convergent by the same exclude-own-batch rule as the dedup
# ingest, and a window split across a batch boundary is assembled from its
# two partial rows exactly like the batch form would emit them.
# ---------------------------------------------------------------------------


def pack_batch(
    bspark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    length: int = 256,
) -> None:
    """Assign one micro-batch of documents to context windows, continuing
    the token stream from all previously landed batches.  The carry derives
    from the landed table itself; the assignment arithmetic is the shared
    ``operators.packing.assign_windows`` (one copy, so the streamed==batch
    bit-exactness can't drift)."""
    from pyspark.sql import Window as W_

    from ..operators.packing import assign_windows, sized_docs

    prior = _read_prior_batches(bspark, out_dir, batch_id)
    carry = 0
    if prior is not None:
        carry = int(prior.agg(F.sum("n_toks_in_window")).first()[0] or 0)
    # One global window INSIDE the micro-batch is fine: a batch is bounded
    # by the trigger cap; the cross-batch dimension is the carry.
    wcum = W_.orderBy("doc_id").rowsBetween(W_.unboundedPreceding, W_.currentRow)
    with_off = sized_docs(batch_df).withColumn(
        "off", F.lit(carry).cast("long") + F.sum("n_toks").over(wcum) - F.col("n_toks")
    )
    W.idempotent_batch_write(assign_windows(with_off, length), out_dir, batch_id)


def run_packing_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    length: int = 256,
) -> None:
    _run_foreach_batch(docs_stream, checkpoint_dir, pack_batch, out_dir, length)


# ---------------------------------------------------------------------------
# Streaming inverted-index maintenance — documents arrive in micro-batches
# and land straight into the BM25 index (operators/retrieval.py): postings
# under (tbucket, batch_id) with dynamic partition overwrite, so replays
# own their slices; the stats sidecar converges from doclen.  Queries run
# against the live index via bm25_topk_indexed with no rebuild; history
# folds into batch_id=-1 via compact_streamed_text_index at-or-below the
# committed watermark (compact_batch_landings' contract, per bucket).  The
# stream may start on a built index: the build is the batch_id=-1 slice.
# ---------------------------------------------------------------------------


def run_indexing_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
) -> None:
    """Streaming runner for incremental text indexing."""
    from ..operators.retrieval import text_index_ingest_batch

    _run_foreach_batch(docs_stream, checkpoint_dir, text_index_ingest_batch, index_path)


def run_ivf_indexing_stream(
    spark: SparkSession,
    vec_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
) -> None:
    """Streaming runner for incremental IVF vector indexing — the
    ``run_indexing_stream`` twin for the embedding index.  The coarse
    quantizer must already be persisted, by ``ivf_fit_centroids``
    (quantizer only) or ``build_ivf_index`` (quantizer and the
    ``batch_id=-1`` generation): streaming ingest only ROUTES into the
    frozen centroids, never re-fits."""
    from ..operators.similarity import ivf_index_ingest_batch

    _run_foreach_batch(
        vec_stream, checkpoint_dir, ivf_index_ingest_batch, index_path, vec_col
    )


# ---------------------------------------------------------------------------
# Streaming corpus curation — the ingest-time data-selection gate: each
# micro-batch of documents is scored against a PRE-FIT DSIR bucket model
# (constant-size, fitted once on a reference corpus — the thing you'd
# persist and broadcast at 100 TB), quality-scored, threshold-filtered,
# then incrementally deduped against the persisted band index.  Composes
# selection.dsir_fit/dsir_score with the ingest_dedup_batch machinery; the
# landed table carries the scores so downstream mixing can re-weight
# without re-scoring.
# ---------------------------------------------------------------------------


def curate_batch(
    bspark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    model: tuple[list[tuple[int, int]], int],
    kept_dir: str,
    index_dir: str,
    min_quality: float = 10.0,
    min_logw: float = -10.0,
    lm_model: tuple[list[tuple[str, int]], int] | None = None,
    max_nll_micro_per_tok: int | None = None,
) -> DataFrame:
    """One micro-batch's curation: DSIR-score against the fixed model,
    quality-score, optionally LM-perplexity-score (round 6 — the CCNet
    gate beside the DSIR gate), filter on all, then index-backed dedup.
    Both models cross into the cloned batch session as plain Python values
    (``dsir_score`` rebuilds the 1024-row broadcast side in-session;
    ``lm_model_score`` the vocabulary-sized LM table).  The perplexity cut
    is the exact integer rule ``nll_micro < threshold * n_tok`` — no
    float division in the predicate.  Replay-convergent for the same
    reason as ``ingest_dedup_batch``: all landings are idempotent batch_id
    subpaths."""
    from ..functions import dialect as X
    from ..operators import selection as SEL
    from ..operators import text as TX

    scored = SEL.dsir_score(bspark, batch_df, model).select(
        "doc_id", "lw_micro", "log_weight"
    )
    q = TX.quality_score_expr(X.SPARK)
    passed = (
        batch_df.withColumn("quality", F.expr(q))
        .join(scored, "doc_id")
        .filter(
            (F.col("quality") >= F.lit(min_quality))
            & (F.col("log_weight") >= F.lit(min_logw))
        )
    )
    extra_cols = []
    if lm_model is not None:
        from ..operators import retrieval as RT

        thr = (
            max_nll_micro_per_tok
            if max_nll_micro_per_tok is not None
            else RT.LM_TAIL_MICRO
        )
        ppl = RT.lm_model_score(passed.select("doc_id", "text"), lm_model).select(
            "doc_id", "n_tok", "nll_micro", "avg_nll_nats"
        )
        # LEFT join + explicit predicate: a doc that produced no tokens
        # (NULL text) carries no score row — policy is unscoreable=REJECT,
        # and the rejection is an explicit, countable predicate
        # (nll_micro IS NOT NULL) rather than a silent inner-join drop
        passed = (
            passed.join(ppl, "doc_id", "left")
            .filter(
                F.col("nll_micro").isNotNull()
                & (F.col("nll_micro") < F.lit(thr) * F.col("n_tok"))
            )
            .drop("n_tok", "nll_micro")
        )
        extra_cols = ["avg_nll_nats"]
    # materialize the scored batch ONCE before the dedup gate: the gate
    # consumes its input twice (the band table and the survivor anti-join),
    # and without this each consumption re-runs the whole DSIR + quality +
    # LM scoring chain above (measured 2.4 s/batch of pure recomputation
    # on the sf0.1 web_curate row)
    scored_batch = passed.select(
        *batch_df.columns, "quality", "log_weight", *extra_cols
    ).localCheckpoint()
    return ingest_dedup_batch(
        bspark,
        scored_batch,
        batch_id,
        kept_dir,
        index_dir,
    )


def curate_index_batch(
    bspark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    model: tuple[list[tuple[int, int]], int],
    kept_dir: str,
    dedup_index_dir: str,
    text_index_dir: str,
    min_quality: float = 10.0,
    min_logw: float = -10.0,
    lm_model: tuple[list[tuple[str, int]], int] | None = None,
) -> None:
    """``curate_batch`` + inverted-index landing — the full WARC-to-index
    composition's per-batch step (round 9): score/filter/dedup the batch,
    then feed THIS batch's survivors into ``text_index_ingest_batch`` so
    the standing retrieval index grows with the curated corpus in the
    same micro-batch.  The survivors frame ``curate_batch`` returns is a
    deterministic plan over the dedup gate's checkpointed intermediates
    — equal to the batch's idempotent ``batch_id`` landing subpath by
    construction — so the index ingest shares the batch scan instead of
    reading the landing back from parquet (the round-11-profiled
    per-batch job-count fold: one read + filter + its scheduling per
    batch saved); a replay recomputes the identical survivors (both
    landings are keyed by the same batch_id and the text index's
    fresh-doc_id probe exempts a batch's own replay)."""
    from ..operators.retrieval import text_index_ingest_batch

    kept = curate_batch(
        bspark,
        batch_df,
        batch_id,
        model,
        kept_dir,
        dedup_index_dir,
        min_quality,
        min_logw,
        lm_model,
    )
    # no emptiness-probe job here: text_index_ingest_batch's contract
    # collect detects the empty batch itself and skips the landing
    survivors = kept.select("doc_id", "text")
    text_index_ingest_batch(bspark, survivors, batch_id, text_index_dir)


def run_web_curation_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    model: tuple[list[tuple[int, int]], int],
    kept_dir: str,
    dedup_index_dir: str,
    text_index_dir: str,
    checkpoint_dir: str,
    min_quality: float = 10.0,
    min_logw: float = -10.0,
    lm_model: tuple[list[tuple[str, int]], int] | None = None,
) -> None:
    """Streaming runner for the curate-and-index composition."""
    _run_foreach_batch(
        docs_stream, checkpoint_dir, curate_index_batch, model, kept_dir,
        dedup_index_dir, text_index_dir, min_quality, min_logw, lm_model,
    )


def run_curation_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    model: tuple[list[tuple[int, int]], int],
    kept_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    min_quality: float = 10.0,
    min_logw: float = -10.0,
    lm_model: tuple[list[tuple[str, int]], int] | None = None,
    max_nll_micro_per_tok: int | None = None,
) -> None:
    """Streaming runner for the curation gate."""
    _run_foreach_batch(
        docs_stream, checkpoint_dir, curate_batch, model, kept_dir, index_dir,
        min_quality, min_logw, lm_model, max_nll_micro_per_tok,
    )


# ---------------------------------------------------------------------------
# Streaming quantile monitoring — the mergeable-histogram property used for
# real: each micro-batch lands its own fixed-domain histogram (bounded: at
# most keys x HQ_BINS rows per batch, whatever the batch size), and the
# reader SUMs the landed histograms into the exact global histogram before
# the quantile read-off.  The per-batch landing is the idempotent batch_id
# subpath, so replays converge like every other landing in this module.
# The fixed domain is the streaming trade: quantiles of a boundless stream
# need the bin edges pinned up front (calibrate on a reference sample or
# known metric range); out-of-domain FINITE values clamp to the edge bins,
# non-finite values are excluded (sketches.hq_finite, same contract as the
# batch estimator).
# ---------------------------------------------------------------------------


def hist_batch(
    batch_df: DataFrame,
    batch_id: int,
    hist_dir: str,
    key: str,
    val: str,
    lo: float,
    hi: float,
) -> None:
    from ..operators import sketches as SK

    hist = SK.fixed_domain_hist(batch_df, key, val, lo, hi)
    W.idempotent_batch_write(hist, hist_dir, batch_id)


def run_quantile_stream(
    spark: SparkSession,
    events_stream: DataFrame,
    hist_dir: str,
    checkpoint_dir: str,
    key: str = "event_type",
    val: str = "value",
    lo: float = 0.0,
    hi: float = 1000.0,
) -> None:
    _run_foreach_batch(
        events_stream,
        checkpoint_dir,
        lambda _bspark, b, bid: hist_batch(b, bid, hist_dir, key, val, lo, hi),
    )


def merged_quantiles(
    spark: SparkSession,
    hist_dir: str,
    lo: float = 0.0,
    hi: float = 1000.0,
) -> DataFrame:
    """Exact merge of every landed per-batch histogram + quantile read-off
    — identical to running the fixed-domain estimator over the whole table
    in one batch pass (pytest-asserted bit-exact)."""
    from ..operators import sketches as SK

    hist = spark.read.parquet(hist_dir).select("k", "b", "c")
    return SK.quantiles_from_hist(hist, lo, hi)


# ---------------------------------------------------------------------------
# Streaming semantic (embedding) dedup — the SRP-bucket twin of the MinHash
# ingest gate above: each micro-batch dedups against the persisted index of
# prior survivors, with the index split into bucket rows and quantized
# vectors so vectors are stored once, not once per SRP table.
# ---------------------------------------------------------------------------


def ingest_embedding_dedup_batch(
    bspark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    kept_dir: str,
    index_dir: str,
) -> None:
    """One micro-batch's semantic ingest: dedup against the bucket/vector
    index, land survivors + their index rows under the batch_id subpath.
    Replay-convergent (idempotent subpaths, exclude-own-batch index read)."""
    from ..operators import similarity as SIM

    idx_b = _read_prior_batches(bspark, f"{index_dir}/buckets", batch_id)
    idx_v = _read_prior_batches(bspark, f"{index_dir}/vectors", batch_id)
    kept, kept_buckets, kept_qvecs = SIM.incremental_embedding_dedup(
        batch_df, idx_b, idx_v
    )
    W.idempotent_batch_write(kept, kept_dir, batch_id)
    # vectors BEFORE buckets: a crash between the two leaves vectors-only,
    # which the next read treats as an absent index for the replayed batch
    # (the operator requires BOTH sides); buckets-first would strand a
    # bucket row whose vector never landed
    W.idempotent_batch_write(kept_qvecs, f"{index_dir}/vectors", batch_id)
    W.idempotent_batch_write(kept_buckets, f"{index_dir}/buckets", batch_id)


def run_embedding_dedup_stream(
    spark: SparkSession,
    vecs_stream: DataFrame,
    kept_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> None:
    _run_foreach_batch(
        vecs_stream, checkpoint_dir, ingest_embedding_dedup_batch, kept_dir, index_dir
    )
