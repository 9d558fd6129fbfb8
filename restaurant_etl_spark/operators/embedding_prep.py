"""Embedding preprocessing for training-data pipelines: L2 normalization,
int8 quantization, average pooling, and per-dimension scaler statistics —
the operations that prepare an ``array<float>`` column for dedup, ANN
indexing, or model ingestion. All native higher-order array expressions
(transform / aggregate / slice): zero UDFs, fully codegen'd, embarrassingly
parallel (no shuffle except the stats aggregation).

The reference has no embedding surface at all; this implements the
mandated extension (SURVEY.md §2B "training-data pipeline ops").

Oracle-parity notes:
  * element math is done in DOUBLE on both engines with the same
    left-to-right accumulation order, so intermediate doubles are
    bit-identical and rounding can't diverge;
  * transformed vectors are serialized as comma-joined SCALED INTEGERS
    (``round(x * 10^k)``) — integer→string formatting is identical across
    engines, unlike float→string.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from restaurant_etl_spark.operators.registry import register
from restaurant_etl_spark.sources.tables import load_table

DIM = 64
POOL = 8  # 64 dims → 8 pooled buckets of 8


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delegates to similarity's loader for the shared data contract
    (DIM/no-NULL/unique vec_id) and the scan-parallelism floor — a
    single-row-group corpus file otherwise pins these full-corpus maps
    to one core (embedding_quantize_int8 measured 8.0 s steady at sf10
    on 1 of 32 cores, r9 sweep). Chunk is the MAP size (VERDICT r15
    #1): these are single-cheap-pass consumers (~40 µs/row), so the
    floor only fires on corpora large enough that one task would carry
    ≥ ~0.33 s of work — at bench sf0.1 the scan keeps its native
    layout (no Exchange), at sf10 it still widens to 25 tasks."""
    from restaurant_etl_spark.operators import similarity as _sim

    return _sim._emb(spark, sf_dir, chunk=_sim._EMB_MAP_CHUNK)


def _dvec(col: str) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


_DUCK_NORM = "sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"


@register(
    "embedding_l2_normalize",
    oracle=f"""
    WITH n AS (
        SELECT vec_id, embedding AS v, {_DUCK_NORM.format(a='embedding')} AS nrm
        FROM embeddings
    )
    SELECT vec_id,
           round(nrm, 5) AS norm,
           list_aggregate(
             list_transform(v, x -> round(x::DOUBLE / nrm * 100000)::BIGINT::VARCHAR),
             'string_agg', ',') AS unit_vec_scaled
    FROM n
    """,
    category="embedding",
)
def embedding_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize every embedding to a unit vector. One narrow projection
    over the corpus — at 100 TB this is a pure map stage that pipelines into
    whatever consumes it (cosine ANN wants unit vectors so dot == cosine).
    The unit vector is emitted as ×1e5 scaled integers (driver-hashable)."""
    e = _emb(spark, sf_dir)
    # materialize the vector and its norm as columns BEFORE the per-element
    # lambda references them: multi-referenced aliases survive
    # CollapseProject, so the norm aggregate runs once per row instead of
    # being inlined and re-evaluated per element (the Catalyst pitfall
    # documented on dedup.shingle_table)
    t = e.select("vec_id", _dvec("embedding").alias("dv"))
    t = t.select("vec_id", "dv", _norm(F.col("dv")).alias("nrm"))
    unit = F.transform(
        F.col("dv"), lambda x: F.round(x / F.col("nrm") * 100000).cast("long").cast("string")
    )
    return t.select(
        "vec_id",
        F.round("nrm", 5).alias("norm"),
        F.array_join(unit, ",").alias("unit_vec_scaled"),
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH m AS (
        SELECT vec_id, embedding AS v,
               list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
        FROM embeddings
    )
    SELECT vec_id,
           round(127.0 / amax, 5) AS scale,
           list_aggregate(
             list_transform(v, x -> round(x::DOUBLE * 127.0 / amax)::BIGINT::VARCHAR),
             'string_agg', ',') AS q8,
           round(list_sum(list_transform(v, x ->
             abs(x::DOUBLE - round(x::DOUBLE * 127.0 / amax) / (127.0 / amax)))), 4)
             AS recon_err_l1
    FROM m
    """,
    category="embedding",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization (per-vector absmax scaling): the standard
    4× storage shrink before shipping embeddings to an ANN index or training
    shard. Emits the quantized codes plus the L1 reconstruction error so the
    quality loss is observable. Pure map stage — scales linearly."""
    e = _emb(spark, sf_dir)
    # same materialization discipline as embedding_l2_normalize: scale (an
    # array_max aggregate) must be a column before the lambdas reference it,
    # or it re-evaluates per element
    t = e.select("vec_id", _dvec("embedding").alias("dv"))
    t = t.select(
        "vec_id",
        "dv",
        (F.lit(127.0) / F.array_max(F.transform(F.col("dv"), F.abs))).alias("scale"),
    )
    t = t.select(
        "vec_id",
        "dv",
        "scale",
        F.transform(F.col("dv"), lambda x: F.round(x * F.col("scale")).cast("long")).alias("q"),
    )
    # the error divides by the exact scale, so it is computed here: in the
    # final select, F.col("scale") would resolve to the 5-dp rounded alias
    err = F.aggregate(
        F.zip_with(F.col("dv"), F.col("q"), lambda x, qx: F.abs(x - qx / F.col("scale"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    t = t.select("vec_id", "scale", "q", err.alias("err"))
    return t.select(
        "vec_id",
        F.round("scale", 5).alias("scale"),
        F.array_join(F.transform(F.col("q"), lambda x: x.cast("string")), ",").alias("q8"),
        F.round("err", 4).alias("recon_err_l1"),
    )


@register(
    "embedding_avg_pool",
    oracle=f"""
    SELECT vec_id,
           list_aggregate(
             list_transform(range(0, {POOL}), c ->
               round(list_sum(list_transform(range(1, {DIM // POOL + 1}), i ->
                 embedding[c * {DIM // POOL} + i]::DOUBLE)) / {DIM // POOL} * 1000000
               )::BIGINT::VARCHAR),
             'string_agg', ',') AS pooled_scaled
    FROM embeddings
    """,
    category="embedding",
)
def embedding_avg_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-pool 64 dims → 8 buckets of 8 (dimensionality reduction for a
    cheap pre-filter index). Contiguous slices accumulate left-to-right on
    both engines; pooled means emitted as ×1e6 scaled integers."""
    e = _emb(spark, sf_dir)
    dv = _dvec("embedding")
    step = DIM // POOL
    pooled = F.transform(
        F.sequence(F.lit(0), F.lit(POOL - 1)),
        lambda c: F.round(
            F.aggregate(
                F.slice(dv, c * step + 1, step), F.lit(0.0), lambda acc, x: acc + x
            )
            / step
            * 1_000_000
        )
        .cast("long")
        .cast("string"),
    )
    return e.select("vec_id", F.array_join(pooled, ",").alias("pooled_scaled"))


@register(
    "embedding_dim_stats",
    oracle=f"""
    SELECT CAST(i AS INTEGER) AS dim,
           round(avg(embedding[i]::DOUBLE), 5) AS mean,
           round(stddev_samp(embedding[i]::DOUBLE), 5) AS std,
           round(min(embedding[i]::DOUBLE), 5) AS lo,
           round(max(embedding[i]::DOUBLE), 5) AS hi
    FROM embeddings, range(1, {DIM + 1}) t(i)
    GROUP BY i
    """,
    category="embedding",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics (the "fit" half of a feature scaler):
    posexplode → one hash aggregation keyed by dimension index. 64 groups
    regardless of corpus size — partial aggregation does all the work
    map-side, the shuffle moves 64 rows per partition."""
    e = _emb(spark, sf_dir)
    ex = e.select(F.posexplode(_dvec("embedding")).alias("pos", "x"))
    return (
        ex.groupBy((F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            F.round(F.avg("x"), 5).alias("mean"),
            F.round(F.stddev_samp("x"), 5).alias("std"),
            F.round(F.min("x"), 5).alias("lo"),
            F.round(F.max("x"), 5).alias("hi"),
        )
    )
