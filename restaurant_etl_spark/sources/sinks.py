"""Sink S7 (SURVEY.md §2A): the 13-column CSV contract.

The reference writes one CSV per document via pandas (process_menu.py:91-93,
header row per output/great_india.csv:1); ``coalesce(1)`` reproduces the
single-file contract (serializing only the final write — upstream stages
stay parallel).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from restaurant_etl_spark.schemas import OUTPUT_COLUMNS


def timestamped_output_path(
    output_dir: str, stem: str, timestamp: str | None = None
) -> str:
    """F11 — timestamped output filename, ``{stem}_extracted_{ts}.csv``
    (process_menu.py:91-92: ``datetime.now().strftime('%Y%m%d_%H%M%S')``).

    The timestamp is resolved ONCE on the driver (equivalent to
    ``date_format(current_timestamp(), 'yyyyMMdd_HHmmss')``, which Catalyst
    also folds to a single per-query value) — never per-task, which would
    fan one logical output into several differently-named files on a real
    cluster. UTC-pinned; injectable ``timestamp`` keeps tests
    deterministic."""
    if timestamp is None:
        from datetime import datetime, timezone

        timestamp = datetime.now(timezone.utc).strftime("%Y%m%d_%H%M%S")
    return os.path.join(output_dir, f"{stem}_extracted_{timestamp}.csv")


def write_menu_csv_timestamped(
    items: DataFrame,
    output_dir: str,
    stem: str,
    timestamp: str | None = None,
    single_file: bool = True,
) -> str:
    """S7+F11 — the reference's full save step: 13-column CSV written to a
    per-run timestamped path. Returns the path written."""
    path = timestamped_output_path(output_dir, stem, timestamp)
    write_menu_csv(items, path, single_file=single_file)
    return path


def write_menu_csv(items: DataFrame, path: str, single_file: bool = True) -> None:
    """S7 — the 13-column CSV contract in canonical order
    (menu_models.py:202-219). Missing columns are filled with nulls, extra
    columns dropped, exactly like the reference's column projection."""
    cols = [
        F.col(c) if c in items.columns else F.lit(None).cast("string").alias(c)
        for c in OUTPUT_COLUMNS
    ]
    out = items.select(*cols)
    if single_file:
        out = out.coalesce(1)
    out.write.option("header", True).mode("overwrite").csv(path)
