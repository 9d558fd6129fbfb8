"""Scalar functions F1-F11 (SURVEY.md §2A) as native Column expressions.

Everything here stays JVM-side inside whole-stage codegen — no Python UDFs —
so Catalyst can fold constants and push surrounding filters. Each function
cites the reference behavior it reproduces.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from restaurant_etl_spark.schemas import (
    CHUNK_CHARS,
    CURRENCY_WHITELIST,
    PRICE_COLUMNS,
    PRICE_MAX,
    PRICE_MIN,
    PRIMARY_PRICE_ORDER,
)


def _strip(s: Column) -> Column:
    """Python ``str.strip()`` equivalent (all whitespace, not just spaces)."""
    return F.regexp_replace(s, r"^\s+|\s+$", "")


def normalize_extracted_text(text: Column) -> Column:
    """F1 + P4 — normalize_extracted_text (restaurant_etl/utils/clean_text.py:3-27),
    line-faithful: page markers → newline (case-insensitive); per line: strip,
    drop length ≤1 and punctuation-only lines, collapse dot leaders to one
    space; rejoin; collapse blank runs to one blank line; collapse 2+
    spaces/tabs (single tabs survive, matching ``[ \\t]{2,}``); strip."""
    t = F.regexp_replace(text, r"(?i)-{2,}\s*Page\s*\d+\s*-{2,}", "\n")
    lines = F.transform(F.split(t, "\n"), _strip)
    kept = F.filter(lines, lambda s: (F.length(s) > 1) & ~s.rlike(r"^[\W_]+$"))
    dotless = F.transform(kept, lambda s: F.regexp_replace(s, r"\.{2,}", " "))
    t = F.array_join(dotless, "\n")
    t = F.regexp_replace(t, r"\n{2,}", "\n\n")
    t = F.regexp_replace(t, r"[ \t]{2,}", " ")
    return _strip(t)


def clean_item_name(name: Column) -> Column:
    """F2 — whitespace-collapse + strip (menu_models.py:64-68)."""
    return F.trim(F.regexp_replace(name, r"\s+", " "))


def normalize_currency(currency: Column) -> Column:
    """F3 — whitelist or any ≤3-char token; otherwise NULL, never an error
    (menu_models.py:70-79)."""
    trimmed = F.trim(currency)
    return F.when(trimmed.isin(CURRENCY_WHITELIST) | (F.length(trimmed) <= 3), trimmed)


def price_in_range(price: Column) -> Column:
    """F4 — null-safe range predicate: a price is acceptable when null or in
    [0, 100000]; out-of-range REJECTS THE WHOLE RECORD (menu_models.py:81-90,
    exception → record dropped at llm_parser.py:100-105)."""
    return price.isNull() | price.between(PRICE_MIN, PRICE_MAX)


def validity_predicate() -> Column:
    """P2 — the record-validity filter as one conjunctive predicate:
    name ≥2 chars after cleaning, every price column null-or-in-range, and
    at least one price present (has_any_price, menu_models.py:92-101;
    drop-on-failure llm_parser.py:98-105)."""
    pred = F.length(clean_item_name(F.col("item_name"))) >= 2
    for c in PRICE_COLUMNS:
        pred = pred & price_in_range(F.col(c))
    pred = pred & F.coalesce(*[F.col(c) for c in PRICE_COLUMNS]).isNotNull()
    return pred


def primary_price() -> Column:
    """F6 — first non-null of price → full → half → large → medium → small
    (menu_models.py:125-133). The reference uses Python ``or`` so a literal
    0.0 falls through; we use coalesce and document the divergence (SURVEY
    §7.4: prices are ge=0 and 0.0-only records are a degenerate case)."""
    return F.coalesce(*[F.col(c) for c in PRIMARY_PRICE_ORDER])


def _fmt(cur: Column, price: Column) -> Column:
    return F.concat(cur, F.format_string("%.2f", price))


def price_display(currency_default: str = "$") -> Column:
    """F5 — price_display derivation (menu_models.py:103-123): single price →
    ``{cur}{p:.2f}``; else labeled parts joined by `` | `` in order
    Half → Full → Small → Medium → Large; ``No price`` fallback."""
    cur = F.coalesce(F.col("currency"), F.lit(currency_default))
    parts = F.concat_ws(
        " | ",
        F.when(F.col("half_plate_price").isNotNull(), F.concat(F.lit("Half: "), _fmt(cur, F.col("half_plate_price")))),
        F.when(F.col("full_plate_price").isNotNull(), F.concat(F.lit("Full: "), _fmt(cur, F.col("full_plate_price")))),
        F.when(F.col("small_price").isNotNull(), F.concat(F.lit("Small: "), _fmt(cur, F.col("small_price")))),
        F.when(F.col("medium_price").isNotNull(), F.concat(F.lit("Medium: "), _fmt(cur, F.col("medium_price")))),
        F.when(F.col("large_price").isNotNull(), F.concat(F.lit("Large: "), _fmt(cur, F.col("large_price")))),
    )
    return (
        F.when(F.col("price").isNotNull(), _fmt(cur, F.col("price")))
        .when(parts != "", parts)
        .otherwise(F.lit("No price"))
    )


def flatten_dietary_tags(tags: Column) -> Column:
    """F7 — ', '-joined tag list, null when empty/null (menu_models.py:197)."""
    return F.when(tags.isNotNull() & (F.size(tags) > 0), F.array_join(tags, ", "))


def restaurant_name_from_path(path: Column) -> Column:
    """F9 — file stem → underscores to spaces → Title Case
    (process_menu.py:43)."""
    stem = F.regexp_extract(path, r"([^/]+)\.\w+$", 1)
    return F.initcap(F.regexp_replace(stem, "_", " "))


def token_estimate(text: Column) -> Column:
    """F10 — ``max(1, len(text)//4)`` (llm_parser.py:20-21)."""
    return F.greatest(F.lit(1), F.floor(F.length(text) / 4)).cast("bigint")


def chunk_text(text: Column, chunk_chars: int = CHUNK_CHARS) -> Column:
    """R1 — fixed-width chunk split (llm_parser.py:169-181): ≤``chunk_chars``
    slices, each stripped. Returns an array column; pair with posexplode for
    the (chunk_idx, chunk_text) child table."""
    n_chunks = F.greatest(F.lit(1), F.ceil(F.length(text) / chunk_chars)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.trim(F.substring(text, i * chunk_chars + 1, chunk_chars)),
    )
