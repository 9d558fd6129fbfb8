"""Math invariants of the embedding preprocessing battery (the oracle
checks cross-engine equality; these check the properties themselves)."""

from __future__ import annotations

import math

from restaurant_etl_spark.operators.embedding_prep import (
    embedding_l2_normalize,
    embedding_quantize_int8,
)
from restaurant_etl_spark.operators.dedup import dedup_simhash_keep


def test_normalized_vectors_are_unit(spark, sf_dir):
    rows = embedding_l2_normalize(spark, sf_dir).limit(20).collect()
    assert rows
    for r in rows:
        comps = [int(x) / 100000 for x in r.unit_vec_scaled.split(",")]
        assert len(comps) == 64
        # scaled-int serialization quantizes at 1e-5 per component
        assert abs(math.sqrt(sum(c * c for c in comps)) - 1.0) < 1e-3


def test_quantized_codes_fit_int8_and_reconstruct(spark, sf_dir):
    rows = embedding_quantize_int8(spark, sf_dir).limit(20).collect()
    assert rows
    for r in rows:
        codes = [int(x) for x in r.q8.split(",")]
        assert len(codes) == 64
        assert all(-127 <= c <= 127 for c in codes)
        # absmax scaling: at least one component saturates to ±127
        assert max(abs(c) for c in codes) == 127
        # mean per-component reconstruction error under half a quant step
        assert r.recon_err_l1 / 64 <= 0.5 / r.scale + 1e-9


def test_simhash_keep_canonicals_are_kept_and_minimal(spark, sf_dir):
    rows = dedup_simhash_keep(spark, sf_dir).collect()
    by_id = {r.doc_id: r for r in rows}
    assert rows
    for r in rows:
        # canonical is never a larger id, and a doc is kept iff it is its
        # own canonical
        assert r.canonical_id <= r.doc_id
        assert r.is_kept == (r.canonical_id == r.doc_id)
    # one-hop canonicalization (documented in the docstring): a canonical
    # may itself be dropped for a smaller id, but ids strictly decrease so
    # every chain terminates at a kept fixed point
    for r in rows:
        cur = r
        for _ in range(len(rows)):
            if cur.is_kept:
                break
            nxt = by_id[cur.canonical_id]
            assert nxt.doc_id < cur.doc_id
            cur = nxt
        assert cur.is_kept


def test_quantize_error_divides_by_exact_scale(spark, tmp_path):
    """recon_err_l1 uses the exact 127/amax scale, as the oracle does, not
    the 5-dp rounded ``scale`` output column. Vector 1 is built so that its
    error sum (0.549749…) sits just below a 4-dp boundary that the rounded
    scale (29.10417 for 29.104165…) pushes it across (0.549750…)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from restaurant_etl_spark.operators.registry import load_all
    from scripts.check_oracle import canonicalize

    vecs = [[((i * p) % 97 - 48) / d for i in range(64)] for p, d in [(13, 11), (5, 9), (40, 30)]]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([1, 2, 3], pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0, 1, 0], pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    sdf = embedding_quantize_int8(spark, str(tmp_path))
    got = {r.vec_id: r.recon_err_l1 for r in sdf.collect()}
    assert got[1] == 0.5497

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'")
    res = con.execute(load_all()["embedding_quantize_int8"].oracle)
    oracle = canonicalize([d[0] for d in res.description], res.fetchall())
    con.close()
    assert canonicalize(sdf.columns, [tuple(r) for r in sdf.collect()]) == oracle
