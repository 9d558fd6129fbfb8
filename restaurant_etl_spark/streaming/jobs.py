"""Structured Streaming jobs over the events stream (SURVEY.md §2B).

The reference has no streaming at all (batch directory re-runs only,
dagster_project/assets/menu_assets.py:32); this module supplies the
streaming operator family the driver mandates, with event-time semantics:

  * file-stream source replaying events.parquet;
  * watermarked tumbling / sliding window aggregations;
  * session windows (native ``session_window``);
  * streaming dedup (``dropDuplicatesWithinWatermark``);
  * ``availableNow`` runner draining a stream into a memory sink so batch
    tests and DuckDB oracles can check streaming output exactly.

Scale notes: state size is bounded by the watermark horizon; keys are
(user_id, ...) so state partitions hash-evenly; availableNow is the batch
backfill path — the same code deploys against a real source (Kafka etc.)
by swapping the reader.

State backend: a 100 TB deployment sets
``spark.sql.streaming.stateStore.providerClass`` to
``org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider``
so per-executor state lives off-heap/on-disk instead of in JVM memory
maps (rocksdbjni ships inside Spark — no extra dependency). Every
kill-and-resume restart test in tests/test_streaming.py runs under BOTH
the default and the RocksDB provider; no job code changes between them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from restaurant_etl_spark.sources.tables import load_table, table_fingerprint

WATERMARK = "30 minutes"
SESSION_GAP = "30 minutes"

#: bump when the staged-events FORMAT changes (not just the source data) —
#: v2: ts normalized to TIMESTAMP (µs, UTC-adjusted). Salted into the staging
#: fingerprint so a directory staged by older code is never silently reused.
STAGED_EVENTS_VERSION = "v2"


def stage_events_source(spark: SparkSession, sf_dir: str, out_dir: str | None = None) -> str:
    """Materialize events as a micros-timestamp parquet directory usable as
    a file-stream source (the raw file is TIMESTAMP(NANOS), which the
    streaming reader can't ingest directly — see sources/tables.py).
    Atomic + fingerprint-keyed via sources/staging.py unless an explicit
    ``out_dir`` is given (tests use private tmp dirs)."""
    if out_dir is not None:
        if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
            load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(out_dir)
        return out_dir

    from restaurant_etl_spark.sources.staging import stage_once

    def build(scratch: str) -> None:
        load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(
            os.path.join(scratch, "data")
        )

    base = stage_once(
        f"events_stream_src_{os.path.basename(os.path.normpath(sf_dir))}",
        table_fingerprint(sf_dir, "events", STAGED_EVENTS_VERSION),
        build,
    )
    return os.path.join(base, "data")


def events_file_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """readStream over a staged events directory (schema from the footer).

    Defense in depth against encoding drift: if the footer carries
    TIMESTAMP_NTZ (tz-naive µs parquet — a stale stage or foreign file),
    declare the column as TIMESTAMP in the reader schema instead. The
    parquet reader accepts it, the micros values are identical under the
    UTC session, and ``withWatermark`` requires TIMESTAMP."""
    from pyspark.sql.types import StructField, StructType, TimestampNTZType, TimestampType

    inferred = spark.read.parquet(src_dir).schema
    schema = StructType(
        [
            StructField(f.name, TimestampType(), f.nullable)
            if isinstance(f.dataType, TimestampNTZType)
            else f
            for f in inferred.fields
        ]
    )
    return spark.readStream.schema(schema).parquet(src_dir)


def tumbling_counts(stream: DataFrame, width: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window counts per event type — the streaming
    twin of operators/streaming_batch.py:stream_tumbling_window_batch."""
    return (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events", "total_value")
    )


def sliding_counts(stream: DataFrame, width: str = "10 minutes", slide: str = "5 minutes") -> DataFrame:
    """Watermarked sliding-window aggregate (length 10m, slide 5m)."""
    return (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("win_start"), "n_events", "total_value")
    )


def session_agg(stream: DataFrame, gap: str = SESSION_GAP) -> DataFrame:
    """Native session windows: per-user sessions closed after ``gap`` of
    inactivity — streaming twin of stream_session_windows_batch."""
    return (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end_gap"),
            "n_events",
            "total_value",
        )
    )


def dedup_within_watermark(stream: DataFrame) -> DataFrame:
    """Streaming dedup on (user_id, event_type): duplicates arriving within
    the watermark horizon are suppressed, state is evicted beyond it."""
    return stream.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


#: microseconds per unit for the horizon strings this module accepts
_INTERVAL_UNIT_US = {
    "second": 1_000_000,
    "seconds": 1_000_000,
    "minute": 60_000_000,
    "minutes": 60_000_000,
    "hour": 3_600_000_000,
    "hours": 3_600_000_000,
}


def _interval_micros(horizon: str) -> int:
    qty, unit = horizon.split()
    return int(qty) * _INTERVAL_UNIT_US[unit]


def view_purchase_interval_join(
    views: DataFrame, purchases: DataFrame, horizon: str = "30 minutes"
) -> DataFrame:
    """Stream-stream inner join with event-time bounds: each view pairs with
    the same user's purchases landing in ``[view_ts, view_ts + horizon]``.
    Both sides carry watermarks so the join state (buffered unmatched rows)
    is evicted once the watermark passes the time bound — state is O(rows
    within the horizon), not O(stream). Inner-join rows emit eagerly, so an
    availableNow drain in append mode yields the complete pair set.

    Skew immunity: the equi-key is (user_id, time_bucket), not user_id
    alone. With bucket width = horizon, a purchase can only match views in
    its own bucket or the previous one, so the view side emits both bucket
    ids (a 2× stateless fan-out) and the range predicate stays as a
    residual. Under a hot user owning a constant fraction of the stream, a
    bare user_id key makes every view×purchase pair of that user a join
    candidate — O(n²) probes for O(n·density·horizon) output; the bucket
    key bounds candidates to adjacent-bucket pairs, restoring output-
    proportional work (measured 89× → linear on the skewed decade,
    SCALING.md). Each qualifying pair still matches exactly once because
    the purchase's bucket is a single value."""
    bucket_us = _interval_micros(horizon)
    v_bucket = F.floor(F.unix_micros(F.col("ts")) / F.lit(bucket_us))
    v = views.withWatermark("ts", WATERMARK).select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
        F.explode(F.array(v_bucket, v_bucket + F.lit(1))).alias("t_bucket"),
    )
    p = purchases.withWatermark("ts", WATERMARK).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("p_value"),
        F.floor(F.unix_micros(F.col("ts")) / F.lit(bucket_us)).alias("p_bucket"),
    )
    joined = v.join(
        p,
        F.expr(
            f"""
            user_id = p_user_id AND
            t_bucket = p_bucket AND
            purchase_ts >= view_ts AND
            purchase_ts <= view_ts + interval {horizon}
            """
        ),
        "inner",
    )
    return joined.select(
        "user_id",
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        F.floor(
            (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")) / F.lit(1_000_000)
        ).alias("lag_sec"),
        F.round("p_value", 2).alias("purchase_value"),
    )


def enrich_with_customers(stream: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static enrichment: broadcast the dimension to every task so
    each micro-batch joins map-side with zero shuffle and zero state. The
    static side is re-resolvable per micro-batch (Spark re-plans it), which
    is exactly the slowly-changing-dimension deployment pattern."""
    dim = F.broadcast(
        customers.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_name").alias("customer_name"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    return stream.join(dim, "user_id", "inner").select(
        "event_id",
        "user_id",
        "customer_name",
        "segment",
        "event_type",
        "ts",
        F.round("value", 2).alias("value"),
    )


def run_available_now(
    df: DataFrame, table: str, output_mode: str = "complete", timeout_s: int = 300
) -> None:
    """Drain the stream with the availableNow trigger into a memory sink;
    read results back with ``spark.table(table)``. Raises TimeoutError if
    the drain doesn't finish — a hung stream must not silently hand callers
    a partially-filled table (it would surface as a baffling oracle
    mismatch instead of the real failure)."""
    q = (
        df.writeStream.format("memory")
        .queryName(table)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_s)
        if not finished:
            raise TimeoutError(
                f"streaming drain into {table!r} did not complete in {timeout_s}s"
            )
    finally:
        if q.isActive:
            q.stop()


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count and value sum held in GroupState across
    micro-batches (and across restarts via the checkpoint). Each batch
    emits the user's updated cumulative row — the "current totals" changelog
    pattern. State is one (long, double) pair per user: bounded, hashed
    evenly by the grouping key at any scale."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        n, v = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            v += float(pdf["value"].sum())
        state.update((n, v))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [round(v, 2)]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, v double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_totals_tws(stream: DataFrame) -> DataFrame:
    """The same per-user running totals as ``running_user_totals``, on
    Spark 4's ``transformWithStateInPandas`` — the successor stateful API
    (typed composite state, timers, TTL; REQUIRES the RocksDB state store
    provider). Kept as a twin so the two APIs are directly comparable and
    the migration path is demonstrated: same input, same output contract,
    same restart semantics, state held in a ValueState instead of the
    single GroupState blob.

    Environment note: the transformWithState protocol requires the
    ``protobuf`` python package. It is not pip-installed in this sandbox,
    so ``_vendor/protobuf_shim.py`` mounts an on-disk pure-python runtime
    (session factory calls it before the JVM starts so workers inherit
    it) — the restart test for this twin runs for real here (r7; it
    previously had to skip). On a machine with neither a real protobuf
    nor a mountable runtime the test skips and
    applyInPandasWithState's twin carries the coverage."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class _Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._tot = handle.getValueState("tot", "n bigint, v double")

        def handleInputRows(self, key, rows, timerValues):  # noqa: N802
            n, v = self._tot.get() if self._tot.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                v += float(pdf["value"].sum())
            self._tot.update((n, v))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [round(v, 2)]}
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        _Totals(),
        outputStructType="user_id bigint, n_events bigint, total_value double",
        outputMode="Append",
        timeMode="None",
    )
