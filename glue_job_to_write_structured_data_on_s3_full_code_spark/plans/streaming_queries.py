"""Streaming queries surfaced through the driver contract.

``streaming_sessionization`` actually runs a Structured Streaming job per
invocation: the events table is split into two parquet files on the median
timestamp (so every user's stream crosses a micro-batch boundary), the
stateful sessionizer consumes them one file per trigger, and the appended
update-mode output is read back as the result. Because per-user state
carries session numbering across batches, the result is row-identical to
the batch window query — so it shares the batch query's DuckDB oracle
(EVENTS_SESSION_ORACLE), making this a hash-checked *streaming* operator.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import tune
from ..sources import materialize_result, read_table
from ..streaming.anomaly import run_anomaly_stream
from ..streaming.sessionize import run_sessionize_stream
from .events_queries import EVENTS_SESSION_ORACLE


def streaming_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    ev = read_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")

    work = tempfile.mkdtemp(prefix="sessionize_stream_")
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)
    # split on the median ts so every user's events in batch 0 precede its
    # events in batch 1 — the in-order requirement of the stateful operator
    with_epoch = ev.withColumn("_epoch", F.unix_timestamp("ts"))
    cut = with_epoch.approxQuantile("_epoch", [0.5], 0.0)[0]
    early = with_epoch.where(F.col("_epoch") <= cut).drop("_epoch")
    late = with_epoch.where(F.col("_epoch") > cut).drop("_epoch")

    p0, p1 = os.path.join(in_dir, "b0"), os.path.join(in_dir, "b1")
    early.coalesce(1).write.parquet(p0)
    late.coalesce(1).write.parquet(p1)
    # one batch per *file*: flatten each write to a single named file with
    # mtimes that force b0 before b1 in the file-stream ordering
    flat0 = os.path.join(in_dir, "part-000.parquet")
    flat1 = os.path.join(in_dir, "part-001.parquet")
    for src, dst, age in ((p0, flat0, 100), (p1, flat1, 50)):
        f = [x for x in os.listdir(src) if x.endswith(".parquet")][0]
        shutil.move(os.path.join(src, f), dst)
        shutil.rmtree(src)
        now = os.stat(dst).st_mtime
        os.utime(dst, (now - age, now - age))

    out_dir = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    try:
        run_sessionize_stream(spark, in_dir, ckpt, out_dir)
        result = spark.read.parquet(out_dir).select(
            "event_id", "user_id", "ts", "session_num"
        )
        # re-stage to a stable path before the temp dir disappears —
        # distributed write+scan, not a driver collect round-trip
        return materialize_result(result, "streaming_sessionization")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked windowed agg run as a REAL append-mode stream, with
    full batch parity.

    Append mode only emits a window once the watermark passes its end, so a
    bounded replay would normally leave the trailing horizon open. The
    production answer is the one used here: advance the watermark. Two
    sentinel events far past the data's end (+12 h, +24 h) arrive as their
    own micro-batches; the first lifts the watermark past every real
    window when the second batch runs (a watermark computed at the end of
    batch k applies in batch k+1), so ALL real windows finalize and emit
    through the exactly-once file sink. Sentinel windows themselves are
    filtered from the result (they may or may not have flushed, depending
    on whether available-now runs a trailing empty batch).
    """
    from ..streaming.incremental import watermarked_hourly_rollup

    tune(spark)
    ev = read_table(spark, sf_dir, "events").select("ts", "event_type", "value")

    work = tempfile.mkdtemp(prefix="hourly_rollup_stream_")
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)
    with_epoch = ev.withColumn("_epoch", F.unix_timestamp("ts"))
    cut = with_epoch.approxQuantile("_epoch", [0.5], 0.0)[0]
    max_ts = ev.agg(F.max("ts")).first()[0]
    batches = [
        with_epoch.where(F.col("_epoch") <= cut).drop("_epoch"),
        with_epoch.where(F.col("_epoch") > cut).drop("_epoch"),
    ]
    for hours in (12, 24):
        batches.append(
            spark.createDataFrame(
                [(max_ts + __import__("datetime").timedelta(hours=hours),
                  "_watermark_sentinel", 0.0)],
                "ts timestamp, event_type string, value double",
            )
        )
    # one file per batch, mtimes forcing replay order
    for i, b in enumerate(batches):
        tmp = os.path.join(in_dir, f"t{i}")
        b.coalesce(1).write.parquet(tmp)
        f = [x for x in os.listdir(tmp) if x.endswith(".parquet")][0]
        dst = os.path.join(in_dir, f"part-{i:03d}.parquet")
        shutil.move(os.path.join(tmp, f), dst)
        shutil.rmtree(tmp)
        now = os.stat(dst).st_mtime
        os.utime(dst, (now - 1000 + i * 100, now - 1000 + i * 100))

    out_dir = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    try:
        stream = (
            spark.readStream.schema("ts timestamp, event_type string, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )
        (
            watermarked_hourly_rollup(stream, watermark="2 hours")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        result = (
            spark.read.parquet(out_dir)
            .where(F.col("event_type") != "_watermark_sentinel")
            .select("hour_ts", "event_type", "n_events", "total_value")
        )
        # re-stage to a stable path before the temp dir disappears —
        # distributed write+scan, not a driver collect round-trip
        return materialize_result(result, "streaming_hourly_rollup")
    finally:
        shutil.rmtree(work, ignore_errors=True)


# Batch-equivalent aggregation (no countDistinct: distinct aggregates are
# unsupported in streaming, so the streaming rollup carries count + sum).
STREAMING_HOURLY_ORACLE = """
SELECT date_trunc('hour', ts) AS hour_ts,
       event_type,
       count(*) AS n_events,
       cast(sum(cast(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


def streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery healed by streaming state: batch 0 is the
    full events table, batch 1 REPLAYS a seventh of it (duplicate
    event_ids, original timestamps — a source retry). The
    ``dropDuplicatesWithinWatermark`` state carries first-seen keys across
    the micro-batch boundary, so every replayed row is dropped and the
    result hash-matches the batch DISTINCT oracle. The watermark horizon
    is the state-size knob: state holds keys seen inside the horizon only
    (here wider than the fixture's span so the whole replay is in range;
    in production it is the source's max redelivery delay)."""
    from ..streaming.incremental import stream_dedup

    tune(spark)
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")

    work = tempfile.mkdtemp(prefix="stream_dedup_")
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)
    batches = [ev, ev.where(F.col("event_id") % 7 == 0)]
    for i, b in enumerate(batches):
        tmp = os.path.join(in_dir, f"t{i}")
        b.coalesce(1).write.parquet(tmp)
        f = [x for x in os.listdir(tmp) if x.endswith(".parquet")][0]
        dst = os.path.join(in_dir, f"part-{i:03d}.parquet")
        shutil.move(os.path.join(tmp, f), dst)
        shutil.rmtree(tmp)
        now = os.stat(dst).st_mtime
        os.utime(dst, (now - 1000 + i * 100, now - 1000 + i * 100))

    out_dir = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    try:
        stream = (
            spark.readStream.schema("event_id long, user_id long, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )
        (
            stream_dedup(stream, ["event_id"], horizon="3650 days")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        result = spark.read.parquet(out_dir).select("event_id", "user_id", "ts")
        return materialize_result(result, "streaming_exact_dedup")
    finally:
        shutil.rmtree(work, ignore_errors=True)


# every event_id is unique in the fixture, so first-occurrence-wins dedup
# of (events ∪ replayed subset) is exactly the events table
STREAMING_DEDUP_ORACLE = """
SELECT event_id, user_id, ts FROM events
"""


def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join, both sides streaming: clicks joined to
    same-user purchases within 1 hour. The click side replays in TWO
    micro-batches split on the median timestamp, so late-half clicks must
    match purchases the join buffered in earlier batches — the state
    continuity that makes stream-stream joins hard. Watermarks on both
    sides are what bound that buffer in production (each side holds only
    rows younger than watermark + interval); here the horizon exceeds the
    fixture's span so the result is complete and hash-matches the batch
    join oracle."""
    from ..streaming.incremental import stream_stream_interval_join

    tune(spark)
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("ts_l"), F.col("event_id").alias("click_id")
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("ts_r"), F.col("event_id").alias("buy_id")
    )

    work = tempfile.mkdtemp(prefix="stream_ij_")
    cdir = os.path.join(work, "clicks")
    bdir = os.path.join(work, "buys")
    os.makedirs(cdir)
    with_epoch = clicks.withColumn("_epoch", F.unix_timestamp("ts_l"))
    cut = with_epoch.approxQuantile("_epoch", [0.5], 0.0)[0]
    batches = [
        with_epoch.where(F.col("_epoch") <= cut).drop("_epoch"),
        with_epoch.where(F.col("_epoch") > cut).drop("_epoch"),
    ]
    for i, b in enumerate(batches):
        tmp = os.path.join(cdir, f"t{i}")
        b.coalesce(1).write.parquet(tmp)
        f = [x for x in os.listdir(tmp) if x.endswith(".parquet")][0]
        dst = os.path.join(cdir, f"part-{i:03d}.parquet")
        shutil.move(os.path.join(tmp, f), dst)
        shutil.rmtree(tmp)
        now = os.stat(dst).st_mtime
        os.utime(dst, (now - 1000 + i * 100, now - 1000 + i * 100))
    buys.coalesce(1).write.parquet(bdir)

    out_dir = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    try:
        cs = (
            spark.readStream.schema("user_id bigint, ts_l timestamp, click_id bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(cdir)
        )
        bs = spark.readStream.schema(
            "user_id bigint, ts_r timestamp, buy_id bigint"
        ).parquet(bdir)
        joined = stream_stream_interval_join(
            cs, bs, "user_id", within="1 hour", watermark="3650 days"
        )
        (
            joined.select("click_id", "buy_id", "user_id", "ts_l", "ts_r")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        result = spark.read.parquet(out_dir).select(
            "click_id", "buy_id", "user_id", "ts_l", "ts_r"
        )
        return materialize_result(result, "streaming_interval_join")
    finally:
        shutil.rmtree(work, ignore_errors=True)


STREAMING_INTERVAL_JOIN_ORACLE = """
SELECT c.event_id AS click_id, b.event_id AS buy_id, c.user_id,
       c.ts AS ts_l, b.ts AS ts_r
FROM events c
JOIN events b ON c.user_id = b.user_id
             AND b.ts >= c.ts AND b.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND b.event_type = 'purchase'
"""


def streaming_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 dimension maintenance: the update snapshot
    arrives as a STREAM (split by key into two micro-batches) and each
    ``foreachBatch`` merges its slice into a versioned parquet history —
    the continuously-maintained warehouse-dimension pattern. Because the
    batch key-slices are disjoint, the sequentially merged final state is
    row-identical to merging the whole snapshot at once, so this streaming
    job hash-matches the BATCH scd2 oracle (shared with
    scd2_customer_merge).

    Versioned targets (v0 → v1 → v2) rather than in-place overwrite: a
    parquet dir cannot be atomically rewritten while it is the merge
    input, and at scale the version chain is exactly what a table format
    (Delta/Iceberg) manages for you — foreachBatch + MERGE is the classic
    deployment of this operator."""
    from ..operators.scd import scd2_merge
    from .etl_ops import _LOAD, _customer_updates

    tune(spark)
    cust = read_table(spark, sf_dir, "customer")
    current = cust.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.lit("2024-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    updates = _customer_updates(cust)

    work = tempfile.mkdtemp(prefix="stream_scd2_")
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)
    batches = [
        updates.where(F.col("c_custkey") % 2 == 0),
        updates.where(F.col("c_custkey") % 2 == 1),
    ]
    for i, b in enumerate(batches):
        tmp = os.path.join(in_dir, f"t{i}")
        b.coalesce(1).write.parquet(tmp)
        f = [x for x in os.listdir(tmp) if x.endswith(".parquet")][0]
        dst = os.path.join(in_dir, f"part-{i:03d}.parquet")
        shutil.move(os.path.join(tmp, f), dst)
        shutil.rmtree(tmp)
        now = os.stat(dst).st_mtime
        os.utime(dst, (now - 1000 + i * 100, now - 1000 + i * 100))

    state = {"version": 0}
    current.write.parquet(os.path.join(work, "target_v0"))

    def _merge_batch(batch_df, batch_id):
        cur = spark.read.parquet(os.path.join(work, f"target_v{state['version']}"))
        merged = scd2_merge(
            cur,
            batch_df,
            key="c_custkey",
            compare_cols=["c_name", "c_acctbal"],
            load_date=_LOAD,
        )
        state["version"] += 1
        merged.write.parquet(os.path.join(work, f"target_v{state['version']}"))

    ckpt = os.path.join(work, "ckpt")
    try:
        (
            spark.readStream.schema("c_custkey bigint, c_name string, c_acctbal double")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
            .writeStream.foreachBatch(_merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        final = spark.read.parquet(
            os.path.join(work, f"target_v{state['version']}")
        )
        result = final.withColumn(
            "valid_from", F.col("valid_from").cast("timestamp")
        ).withColumn("valid_to", F.col("valid_to").cast("timestamp"))
        return materialize_result(result, "streaming_scd2_merge")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _scd2_oracle() -> str:
    from .etl_ops import SCD2_ORACLE

    return SCD2_ORACLE


def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment: the events stream joins a
    customer dimension keyed by ``user_id % 1500`` (the fixture's synth
    key bridge), replayed in two micro-batches. The static side is
    re-planned per micro-batch and broadcast, the stream side is map-only
    and carries NO join state (unlike stream-stream joins) — the
    streaming twin of the reference's lookup enrichment (FULL.py:411-475)
    and the shape that keeps a 100 TB/day event feed off the shuffle.
    Hash-matches the batch join oracle."""
    from ..streaming.incremental import stream_static_enrich

    tune(spark)
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    dim = (
        read_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 1500)
        .select(
            F.col("c_custkey").alias("cust_id"),
            "c_name",
            "c_mktsegment",
        )
    )

    work = tempfile.mkdtemp(prefix="stream_enrich_")
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)
    batches = [
        ev.where(F.col("event_id") % 2 == 0),
        ev.where(F.col("event_id") % 2 == 1),
    ]
    for i, b in enumerate(batches):
        tmp = os.path.join(in_dir, f"t{i}")
        b.coalesce(1).write.parquet(tmp)
        f = [x for x in os.listdir(tmp) if x.endswith(".parquet")][0]
        dst = os.path.join(in_dir, f"part-{i:03d}.parquet")
        shutil.move(os.path.join(tmp, f), dst)
        shutil.rmtree(tmp)
        now = os.stat(dst).st_mtime
        os.utime(dst, (now - 1000 + i * 100, now - 1000 + i * 100))

    out_dir = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    try:
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, value double"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
            .withColumn("cust_id", F.col("user_id") % 1500)
        )
        enriched = stream_static_enrich(stream, dim, "cust_id", how="left")
        (
            enriched.select(
                "event_id", "user_id", "event_type", "value", "c_name", "c_mktsegment"
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        result = spark.read.parquet(out_dir).select(
            "event_id", "user_id", "event_type", "value", "c_name", "c_mktsegment"
        )
        return materialize_result(result, "streaming_static_enrich")
    finally:
        shutil.rmtree(work, ignore_errors=True)


STREAMING_ENRICH_ORACLE = """
SELECT e.event_id, e.user_id, e.event_type, e.value, c.c_name, c.c_mktsegment
FROM events e
LEFT JOIN (SELECT * FROM customer WHERE c_custkey <= 1500) c
       ON e.user_id % 1500 = c.c_custkey
"""


def streaming_anomaly_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-baseline anomaly detection run as a REAL stateful stream
    (``applyInPandasWithState``, streaming/anomaly.py): per-user
    (count, sum) state crosses the micro-batch boundary — the events are
    split on the median timestamp so every user's baseline accumulates in
    batch 0 and keeps flagging in batch 1. Integer cents arithmetic makes
    the streamed output bit-identical to the batch window query, which is
    the DuckDB oracle."""
    tune(spark)
    ev = (
        read_table(spark, sf_dir, "events")
        .select(
            "event_id",
            "ts",
            "user_id",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("value_cents"),
        )
    )

    work = tempfile.mkdtemp(prefix="anomaly_stream_")
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)
    with_epoch = ev.withColumn("_epoch", F.unix_timestamp("ts"))
    cut = with_epoch.approxQuantile("_epoch", [0.5], 0.0)[0]
    early = with_epoch.where(F.col("_epoch") <= cut).drop("_epoch")
    late = with_epoch.where(F.col("_epoch") > cut).drop("_epoch")

    p0, p1 = os.path.join(in_dir, "b0"), os.path.join(in_dir, "b1")
    early.coalesce(1).write.parquet(p0)
    late.coalesce(1).write.parquet(p1)
    flat0 = os.path.join(in_dir, "part-000.parquet")
    flat1 = os.path.join(in_dir, "part-001.parquet")
    for src, dst, age in ((p0, flat0, 100), (p1, flat1, 50)):
        f = [x for x in os.listdir(src) if x.endswith(".parquet")][0]
        shutil.move(os.path.join(src, f), dst)
        shutil.rmtree(src)
        now = os.stat(dst).st_mtime
        os.utime(dst, (now - age, now - age))

    out_dir = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    try:
        run_anomaly_stream(spark, in_dir, ckpt, out_dir)
        result = spark.read.parquet(out_dir).select(
            "event_id", "user_id", "ts", "value_cents",
            "n_prior", "sum_prior_cents", "is_alert",
        )
        return materialize_result(result, "streaming_anomaly_alerts")
    finally:
        shutil.rmtree(work, ignore_errors=True)


STREAMING_ANOMALY_ORACLE = """
WITH e AS (
    SELECT event_id, user_id, ts,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents
    FROM events
)
SELECT event_id, user_id, ts, value_cents,
       CAST(count(*) OVER w AS BIGINT) AS n_prior,
       CAST(coalesce(sum(value_cents) OVER w, 0) AS BIGINT) AS sum_prior_cents,
       (count(*) OVER w >= 5
        AND value_cents * count(*) OVER w
            > 3 * coalesce(sum(value_cents) OVER w, 0)) AS is_alert
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""


REGISTRY = [
    ("streaming_sessionization", streaming_sessionization, EVENTS_SESSION_ORACLE),
    ("streaming_anomaly_alerts", streaming_anomaly_alerts, STREAMING_ANOMALY_ORACLE),
    ("streaming_hourly_rollup", streaming_hourly_rollup, STREAMING_HOURLY_ORACLE),
    ("streaming_exact_dedup", streaming_exact_dedup, STREAMING_DEDUP_ORACLE),
    ("streaming_interval_join", streaming_interval_join, STREAMING_INTERVAL_JOIN_ORACLE),
    ("streaming_scd2_merge", streaming_scd2_merge, _scd2_oracle()),
    ("streaming_static_enrich", streaming_static_enrich, STREAMING_ENRICH_ORACLE),
]
