"""Registered queries — routing topologies (R1/R2, W4/W5) and the streaming
fact pipeline run end-to-end through Structured Streaming.

``stream_fact_pipeline`` actually executes the availableNow streaming job
(foreachBatch -> partitioned parquet) and returns the landed table, checked
against the same SQL oracle as the batch flagship — the unified-API parity
guarantee, driver-verified.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.batch import load_table
from ..streaming import jobs as J
from .queries import _DISPATCH_SQL_ENGINE, _FACT_ORACLE
from .registry import register

# --------------------------------------------------------------------------
# R2 — content-based fan-out
# --------------------------------------------------------------------------

_FANOUT_SELECTS = "\nUNION ALL\n".join(
    f"SELECT '{name}' AS branch, COUNT(*) AS cnt FROM events WHERE {pred}"
    for name, pred in J.FANOUT_BRANCHES.items()
) + "\nUNION ALL\nSELECT 'main' AS branch, COUNT(*) AS cnt FROM events"


@register(
    "fanout_counts",
    sql=_FANOUT_SELECTS,
    doc="R2 — 4-way content router + always-emitting main branch "
    "(ProbeInfoProcess.java:53-81): one parent scan, N filtered children",
)
def fanout_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    branches = J.fanout(ev)
    parts = [
        df.groupBy().agg(F.count(F.lit(1)).alias("cnt")).select(
            F.lit(name).alias("branch"), "cnt"
        )
        for name, df in branches.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# Streaming fact pipeline — the real availableNow run, oracle-checked
# --------------------------------------------------------------------------


@register(
    "stream_fact_pipeline",
    sql=_FACT_ORACLE,
    doc="W1-W3/S2 — the §3.1 topology executed through Structured Streaming "
    "(availableNow, foreachBatch, day-partitioned parquet sink), landed "
    "output checked against the batch oracle (unified-API parity).  "
    "Rotated tier-2 in round 13 to restore hybrid_rrf_indexed to the "
    "driver surface at the 50-entry DRIVER_QUERY_CAP: driver-gated via "
    "nqs_fact_pipeline — the oracle SQL here IS nqs_fact_pipeline's "
    "_FACT_ORACLE and the landed output is row/hash-identical to it, so "
    "the driver's two checks were one check run twice; the streaming "
    "execution machinery stays gated by the stream/batch parity pytest "
    "and this tier-2 check_oracle row",
    tier=2,
)
def stream_fact_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    work = tempfile.mkdtemp(prefix="nqs_stream_")
    out_dir, cp_dir = f"{work}/out", f"{work}/cp"
    J.run_fact_stream(spark, sf_dir, out_dir, cp_dir, _DISPATCH_SQL_ENGINE)
    # The work dir is left in place for the session's lifetime: the returned
    # DataFrame lazily re-reads it (deleting it after a cache() would break
    # recompute on eviction).  Checkpoint+output are a few MB under /tmp.
    shutil.rmtree(cp_dir, ignore_errors=True)
    return spark.read.parquet(out_dir).select(
        "w_start", "protocol", "c_mktsegment", "cnt", "sum_score", "avg_score"
    )


# --------------------------------------------------------------------------
# W10 — keyed state across micro-batches, driver-visible (rows-only check)
# --------------------------------------------------------------------------


@register(
    "stream_running_counts",
    # The memory sink (update mode) retains every per-batch emission; the
    # final MAX(running_total) per key is therefore the all-time row count
    # per event_type regardless of how the source files were chunked into
    # micro-batches — which a one-line batch aggregate oracles exactly.
    sql="SELECT event_type AS key, COUNT(*) AS total FROM events GROUP BY event_type",
    doc="W10 — applyInPandasWithState running per-key counter across "
    "micro-batches (the reference trigger's ReducingState), driven by a "
    "chunked availableNow source; oracled on the final per-key totals",
)
def stream_running_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..operators.stateful import running_counts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    work = tempfile.mkdtemp(prefix="nqs_state_")
    src = f"{work}/src"
    raw.repartition(3).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = f"rc_{uuid.uuid4().hex[:8]}"
    q = (
        running_counts(stream, "event_type")
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", f"{work}/cp")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(
        f"SELECT key, MAX(running_total) AS total FROM {sink} GROUP BY key"
    )


# --------------------------------------------------------------------------
# R1 merged driver row — both router branches, tagged union over a superset
# schema (NULL-padded columns still value-hashed per branch)
# --------------------------------------------------------------------------


@register(
    "exists_router",
    sql="""
SELECT 'heartbeat' AS route, e.event_id, e.user_id * 12 AS probe_id,
  CAST(e.ts AS TIMESTAMP) AS t,
  CASE WHEN e.event_type = 'error' THEN 20 ELSE 10 END AS status,
  date_trunc('hour', CAST(e.ts AS TIMESTAMP)) AS t_h,
  CAST(NULL AS BIGINT) AS user_id,
  CAST(NULL AS STRING) AS probe_alias
FROM events e
JOIN customer c ON e.user_id * 12 = c.c_custkey
UNION ALL
SELECT 'register' AS route, CAST(NULL AS BIGINT) AS event_id, r.probe_id,
  MIN(CAST(r.ts AS TIMESTAMP)) AS t,
  CAST(NULL AS INTEGER) AS status,
  CAST(NULL AS TIMESTAMP) AS t_h,
  MIN(r.user_id) AS user_id,
  ANY_VALUE(n.n_name) || '-' || '临时' || '-' ||
    substr(md5(CAST(r.probe_id AS STRING)), 1, 8) AS probe_alias
FROM (
  SELECT e.*, e.user_id * 12 AS probe_id FROM events e
  LEFT JOIN customer c ON e.user_id * 12 = c.c_custkey
  WHERE c.c_custkey IS NULL
) r
LEFT JOIN nation n ON r.probe_id % 25 = n.n_nationkey
GROUP BY r.probe_id
""",
    doc="R1 — the full exists-router in one driver row: known probes take "
    "the heartbeat branch (status + hour bucket), unknown probes the "
    "registration branch (anti-join, first sighting, synthesized alias)",
)
def exists_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg, heartbeat = J.split_register_heartbeat(ev, cust)
    hb = J.heartbeat_rows(heartbeat).select(
        F.lit("heartbeat").alias("route"),
        "event_id",
        "probe_id",
        F.col("heartbeat_time").alias("t"),
        "status",
        F.col("heartbeat_time_h").alias("t_h"),
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("string").alias("probe_alias"),
    )
    rg = J.register_rows(reg, nat).select(
        F.lit("register").alias("route"),
        F.lit(None).cast("long").alias("event_id"),
        "probe_id",
        F.col("first_seen").alias("t"),
        F.lit(None).cast("int").alias("status"),
        F.lit(None).cast("timestamp").alias("t_h"),
        "user_id",
        "probe_alias",
    )
    return hb.unionByName(rg)


# --------------------------------------------------------------------------
# J6 — alarm-template attach + JSON embed (the Kafka saved-record payload)
# --------------------------------------------------------------------------

_TPL_JSON = (
    "'{\"n_name\":\"' || n_name || '\",\"n_regionkey\":' "
    "|| CAST(n_regionkey AS STRING) || '}'"
)


@register(
    "alarm_template_attach",
    sql=f"""
SELECT e.event_id,
  tp.alarm_template_id,
  t.tpl_json AS alarm_template_json,
  '{{"event_id":' || CAST(e.event_id AS STRING) || ',"alarm_template_id":'
    || COALESCE(CAST(tp.alarm_template_id AS STRING), 'null')
    || ',"alarm_template_json":' || COALESCE(t.tpl_json, 'null') || '}}'
    AS kafka_payload
FROM events e
LEFT JOIN (
  SELECT c_custkey,
    CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_nationkey END AS alarm_template_id
  FROM customer
) tp ON e.user_id = tp.c_custkey
LEFT JOIN (
  SELECT n_nationkey, {_TPL_JSON} AS tpl_json FROM nation
) t ON tp.alarm_template_id = t.n_nationkey
""",
    doc="J6 — alarm-template attach (AbstractDataParser.java:146-159): "
    "task-param dim gives alarm_template_id (blank -> no attach), template "
    "dim left-joined, template JSON embedded in the serialized Kafka "
    "saved-record payload; JSON built with deterministic string concat so "
    "both engines render byte-identically",
)
def alarm_template_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    tp = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 == 0, None)
        .otherwise(F.col("c_nationkey"))
        .alias("alarm_template_id"),
    )
    tpl = nat.select("n_nationkey", F.expr(_TPL_JSON).alias("tpl_json"))
    j = ev.join(F.broadcast(tp), ev["user_id"] == tp["c_custkey"], "left").join(
        F.broadcast(tpl), tp["alarm_template_id"] == tpl["n_nationkey"], "left"
    )
    payload = F.concat(
        F.lit('{"event_id":'),
        F.col("event_id").cast("string"),
        F.lit(',"alarm_template_id":'),
        F.coalesce(F.col("alarm_template_id").cast("string"), F.lit("null")),
        F.lit(',"alarm_template_json":'),
        F.coalesce(F.col("tpl_json"), F.lit("null")),
        F.lit("}"),
    )
    return j.select(
        "event_id",
        "alarm_template_id",
        F.col("tpl_json").alias("alarm_template_json"),
        payload.alias("kafka_payload"),
    )
