"""The staged-artifact cache (VERDICT r10 #7): identical eager staging
(shingle arrays, common counts, pagerank invariants) is materialized once
per corpus per process and reused across sibling queries — keyed on the
table's file fingerprint so a rewritten corpus rebuilds instead of being
served stale."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from restaurant_etl_spark.sources import staging
from restaurant_etl_spark.operators.dedup import _staged_common, _staged_sa


@pytest.fixture(autouse=True)
def _clean_cache():
    staging.clear_staged()
    yield
    staging.clear_staged()


def test_staged_builds_once_and_reuses(spark, sf_dir):
    calls = []

    def build():
        calls.append(1)
        return spark.range(5)

    a = staging.staged(spark, sf_dir, "documents", "t", build)
    b = staging.staged(spark, sf_dir, "documents", "t", build)
    assert a is b and len(calls) == 1
    # a different label is a different artifact
    staging.staged(spark, sf_dir, "documents", "t2", build)
    assert len(calls) == 2


def test_staged_rekeys_on_table_rewrite(spark, tmp_path):
    p = str(tmp_path)
    spark.range(3).write.mode("overwrite").parquet(f"{p}/documents.parquet")
    calls = []

    def build():
        calls.append(1)
        return spark.read.parquet(f"{p}/documents.parquet")

    assert staging.staged(spark, p, "documents", "t", build).count() == 3
    spark.range(7).write.mode("overwrite").parquet(f"{p}/documents.parquet")
    assert staging.staged(spark, p, "documents", "t", build).count() == 7
    assert len(calls) == 2
    # unpersist-on-supersede (VERDICT r11 #2): the rewrite must EVICT the
    # stale entry, not leave it unreachable-but-alive — exactly one entry
    # remains for (documents, t) and it is the new fingerprint's
    left = [k for k in staging._STAGED if k[2] == "documents" and k[4] == "t"]
    assert len(left) == 1
    assert left[0][3] == staging.table_fingerprint(p, "documents")


def _persisted_rdd_ids(spark):
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_supersede_releases_checkpoint_blocks(spark, tmp_path):
    """A table rewrite must explicitly unpersist the superseded frame's
    localCheckpoint blocks (not wait for JVM exit)."""
    p = str(tmp_path)
    spark.range(3).write.mode("overwrite").parquet(f"{p}/documents.parquet")
    build = lambda: spark.read.parquet(f"{p}/documents.parquet")

    before = _persisted_rdd_ids(spark)
    staging.staged(spark, p, "documents", "blk", build).count()
    first_blocks = _persisted_rdd_ids(spark) - before
    assert first_blocks, "localCheckpoint should persist at least one RDD"

    spark.range(5).write.mode("overwrite").parquet(f"{p}/documents.parquet")
    assert staging.staged(spark, p, "documents", "blk", build).count() == 5
    after = _persisted_rdd_ids(spark)
    assert not (first_blocks & after), "superseded checkpoint blocks still pinned"


def test_clear_staged_releases_blocks(spark, sf_dir):
    before = _persisted_rdd_ids(spark)
    staging.staged(spark, sf_dir, "region", "clr", lambda: spark.range(4)).count()
    mine = _persisted_rdd_ids(spark) - before
    assert mine
    staging.clear_staged()
    assert not (mine & _persisted_rdd_ids(spark))


def test_dead_context_entries_evicted(spark, sf_dir):
    """Entries keyed to a stopped SparkContext are dropped on the next
    staged() call (ADVICE r11: bound long-lived multi-session processes)."""
    import os

    fp = staging.table_fingerprint(sf_dir, "region")
    key = ("app-dead-ctx", os.path.realpath(sf_dir), "region", fp, "x")
    staging._STAGED[key] = spark.range(1)
    staging.staged(spark, sf_dir, "region", "y", lambda: spark.range(2))
    assert key not in staging._STAGED


def test_two_corpora_coexist_without_thrash(spark, tmp_path):
    """ADVICE r12 (medium): alternating staged() calls for the same
    (table, label) across TWO corpus dirs must not evict/unpersist each
    other — each corpus builds exactly once and both frames stay live
    and readable afterwards."""
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(3).write.mode("overwrite").parquet(f"{pa}/documents.parquet")
    spark.range(7).write.mode("overwrite").parquet(f"{pb}/documents.parquet")
    calls = []

    def mk(p):
        def build():
            calls.append(p)
            return spark.read.parquet(f"{p}/documents.parquet")

        return build

    frames = {}
    for _ in range(3):  # alternate — pre-fix this thrashed (6 builds)
        frames["a"] = staging.staged(spark, pa, "documents", "t", mk(pa))
        frames["b"] = staging.staged(spark, pb, "documents", "t", mk(pb))
    assert len(calls) == 2, f"cache thrashed across corpora: {calls}"
    # both frames' checkpoint blocks are still alive and correct
    assert frames["a"].count() == 3
    assert frames["b"].count() == 7


def test_clear_staged_resets_build_counts(spark, sf_dir):
    """VERDICT r12 #7: _BUILD_COUNTS is bounded — clear_staged() resets
    it with the cache instead of growing per (corpus, table, label)
    forever."""
    staging.staged(spark, sf_dir, "region", "bc", lambda: spark.range(2))
    assert staging._BUILD_COUNTS
    staging.clear_staged()
    assert not staging._BUILD_COUNTS


def test_staged_sa_and_common_shared_across_queries(spark, sf_dir):
    sa1 = _staged_sa(spark, sf_dir)
    sa2 = _staged_sa(spark, sf_dir)
    assert sa1 is sa2
    c1 = _staged_common(spark, sf_dir, sa1)
    c2 = _staged_common(spark, sf_dir, sa2)
    assert c1 is c2
    assert set(c1.columns) == {"doc_a", "doc_b", "n_common"}


def test_staged_values_match_unstaged_build(spark, sf_dir):
    """The cache must be value-invisible: the staged shingle arrays equal
    a fresh unstaged build row-for-row."""
    from restaurant_etl_spark.operators.dedup import _docs, shingle_arrays

    fresh = shingle_arrays(_docs(spark, sf_dir))
    cached = _staged_sa(spark, sf_dir)
    assert cached.count() == fresh.count()
    assert (
        cached.select("doc_id", F.explode("sharr").alias("s"))
        .exceptAll(fresh.select("doc_id", F.explode("sharr").alias("s")))
        .count()
        == 0
    )


def test_staged_reuse_guard_one_build_per_label(spark, sf_dir):
    """Regression guard (VERDICT r11 #6): the four queries whose sf10
    cold-ledger cells the staging cache fixed must KEEP sharing the
    staged artifacts — running each twice may build each (table, label)
    artifact at most once per corpus per process. A refactor that quietly
    stops calling staged() re-inflates the sf10 cold path while every
    hash stays green; this catches it at sf0.001."""
    from restaurant_etl_spark.operators.registry import load_all

    reg = load_all()
    staging.clear_staged()
    staging._BUILD_COUNTS.clear()
    for name in (
        "dedup_containment",
        "dedup_source_overlap_matrix",
        "dedup_incremental_batch",
        "graph_pagerank_parts",
    ):
        for _ in range(2):
            reg[name].fn(spark, sf_dir).count()
    assert staging._BUILD_COUNTS, "staged() was never called — cache bypassed"
    over = {k: v for k, v in staging._BUILD_COUNTS.items() if v > 1}
    assert not over, f"staged artifacts rebuilt per call: {over}"
