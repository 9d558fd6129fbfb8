"""Incremental directory re-processing — the orchestration-layer semantics
of the reference's Dagster asset (dagster_project/assets/menu_assets.py:11-53,
which re-runs the WHOLE input dir on every materialization) re-expressed as
an idempotent Spark batch with a file manifest, so re-runs touch only new
or changed files.

Design (the Structured-Streaming-file-source pattern, usable from plain
batch jobs):

  * discovery — distributed ``binaryFile`` listing of (path, length,
    modificationTime); no driver-side walk;
  * manifest — an append-only parquet table of fingerprints
    (path, length, mtime) for every file already processed; at 100 TB this
    is a key-only table orders of magnitude smaller than the data;
  * pending — discovery LEFT ANTI JOIN manifest on the full fingerprint,
    so new files AND files whose bytes changed (new mtime/length) both
    qualify; a shuffle on path at worst, broadcast when the manifest is
    small;
  * process — the menu extract→parse pipeline over ONLY the pending file
    list (passed explicitly to the reader, like the streaming file source
    feeds its micro-batch — the delta is bounded per run, the corpus is
    not);
  * commit — output parquet first, manifest rows last. A crash in between
    re-processes the same delta next run: at-least-once, idempotent for
    consumers keyed by (path, run output overwrite), exactly-once nowhere
    claimed.

The registered query ``menu_incremental_first_run`` drives the whole loop
from an empty manifest (fresh state per call → deterministic), and
tests/test_incremental.py covers the delta semantics: second run = 0 files,
touched file = exactly that file.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from restaurant_etl_spark.operators.registry import register

MANIFEST_SCHEMA = "path string, length bigint, mtime timestamp, run_id string"


def discover_files(spark: SparkSession, input_dir: str, glob: str = "*") -> DataFrame:
    """Distributed listing: (path, length, mtime) for every matching file.
    ``binaryFile`` without selecting ``content`` prunes the bytes column —
    this is a metadata-only scan."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(input_dir)
        .select("path", "length", F.col("modificationTime").alias("mtime"))
    )


def load_manifest(spark: SparkSession, state_dir: str) -> DataFrame:
    path = os.path.join(state_dir, "manifest")
    if not os.path.exists(path):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return spark.read.parquet(path)


def pending_files(discovered: DataFrame, manifest: DataFrame) -> DataFrame:
    """Files not yet processed under their CURRENT fingerprint: new paths
    and changed bytes both land here; deletions simply stop appearing."""
    return discovered.join(manifest, ["path", "length", "mtime"], "left_anti")


def run_incremental_menu(
    spark: SparkSession, input_dir: str, state_dir: str, glob: str = "*.txt"
) -> dict:
    """One incremental tick: process pending files through the menu
    pipeline, append items parquet + manifest rows, return counts.

    The pending PATH LIST (not content) is collected to the driver — it is
    bounded by the per-run delta, exactly like the streaming file source's
    micro-batch listing; the file CONTENT only ever flows executor-side."""
    from restaurant_etl_spark.operators.menu_parser import parse_menu_documents
    from restaurant_etl_spark.sources.binary import extract_binary_text, with_format

    run_id = uuid.uuid4().hex[:12]
    discovered = discover_files(spark, input_dir, glob)
    manifest = load_manifest(spark, state_dir)
    pending = pending_files(discovered, manifest)
    todo = pending.collect()  # delta-bounded (see docstring)

    out_items = os.path.join(state_dir, "items")
    n_items = 0
    if todo:
        raw = with_format(
            spark.read.format("binaryFile").load([r["path"] for r in todo])
        )
        # persisted: both the items write and the failed-path collect read
        # this, and re-deriving it re-runs the whole Python extraction pass
        # (and, deployed, every OCR call) over the delta
        all_extracted = extract_binary_text(raw).persist()
        extracted = all_extracted.filter(F.col("success"))
        docs = extracted.select(
            F.regexp_extract("path", r"([0-9]+)\.txt$", 1).cast("bigint").alias("doc_id"),
            "text",
        )
        items = parse_menu_documents(docs).withColumn("run_id", F.lit(run_id))
        # partition by run_id so each tick lands in its own directory:
        # the count below prunes to THIS run's partition (delta-bounded
        # I/O), and consumers can prune history the same way
        items.write.mode("append").partitionBy("run_id").parquet(out_items)
        n_items = spark.read.parquet(out_items).filter(F.col("run_id") == run_id).count()

        # manifest LAST: a crash before this line re-processes the same
        # delta next run (at-least-once, documented). Failed extractions are
        # EXCLUDED from the commit so a transiently-failing file retries on
        # the next tick instead of being permanently marked processed with
        # its data silently lost; a permanently-bad file therefore retries
        # every tick — a production deployment adds an attempt-count column
        # to cap that (failed set is delta-bounded like the todo list)
        failed = {
            r["path"]
            for r in all_extracted.filter(~F.col("success")).select("path").collect()
        }
        rows = [
            (r["path"], r["length"], r["mtime"], run_id)
            for r in todo
            if r["path"] not in failed
        ]
        spark.createDataFrame(rows, MANIFEST_SCHEMA).write.mode("append").parquet(
            os.path.join(state_dir, "manifest")
        )
        all_extracted.unpersist()

    return {
        "run_id": run_id,
        "n_discovered": discovered.count(),
        "n_pending": len(todo),
        "n_items": n_items,
    }


@register(
    "menu_incremental_first_run",
    oracle="""
    WITH m AS (
        SELECT p_partkey AS doc_id,
               p_partkey % 4 AS mode,
               p_name AS name,
               floor(p_retailprice) AS b
        FROM part WHERE p_partkey < 100
    )
    SELECT doc_id,
           name AS item_name,
           CASE mode WHEN 0 THEN b + 0.25 WHEN 1 THEN b + 1.0
                     WHEN 2 THEN b + 3.0 WHEN 3 THEN b + 0.75 END AS primary_price
    FROM m
    """,
    category="menu",
)
def menu_incremental_first_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the incremental pipeline from an EMPTY manifest over the staged
    menu corpus: the first tick must process every file exactly once and
    reproduce the batch pipeline's items (same closed-form oracle as
    menu_pipeline_files, key columns). The first-run result is a pure
    function of the staged corpus, so the state is built ONCE per source
    fingerprint via stage_once (atomic, reused across registry sweeps —
    a fresh mkdtemp per call would leak a parquet copy per invocation);
    the delta behavior (second tick = 0 files) is covered by
    tests/test_incremental.py."""
    from restaurant_etl_spark.operators.menu import _stage_menu_txt
    from restaurant_etl_spark.sources.staging import stage_once
    from restaurant_etl_spark.sources.tables import table_fingerprint

    stage = _stage_menu_txt(spark, sf_dir)

    def build(scratch: str) -> None:
        run_incremental_menu(spark, stage, scratch)

    state = stage_once(
        f"incr_state_{os.path.basename(os.path.normpath(sf_dir))}",
        table_fingerprint(sf_dir, "part"),
        build,
    )
    items = spark.read.parquet(os.path.join(state, "items"))
    return items.select("doc_id", "item_name", "primary_price")
