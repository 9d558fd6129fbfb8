"""Deterministic rule-based menu parser (SURVEY.md §2A U3 / §7.0).

Implements the reference's *declared* extraction semantics — the decision
rules its LLM prompt specifies (BetterVersion/prompt_template.py:13-47) —
as native Column expressions, so the correctness path needs no external
calls and stays inside whole-stage codegen:

  rule 2  header lines (ALL CAPS) → category of following items
  rule 3a slash-separated names matching slash-separated prices → split
          into separate items, i-th name → i-th price
  rule 3b one name + 3 slash prices (or explicit Small/Medium/Large
          label) → size variants
  rule 3c one name + 2 slash prices (or Half/Full label) → half/full
  rule 4  currency symbols stripped into a currency column; price range
          ``100-150`` → lower bound; ``Market Price``/``MP`` → null price
          with display override
  rule 1/5 priceless lines under an item → its description (joined)

The optional LLM parser (operators/llm_parse.py) emits the same schema and
is off the correctness path, mirroring the reference's split between
declared rules and API behavior (SURVEY §7.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from restaurant_etl_spark.functions.cleaning import (
    clean_item_name,
    flatten_dietary_tags,
    normalize_currency,
    normalize_extracted_text,
    price_display,
    primary_price,
    validity_predicate,
)

#: one price token: optional currency symbol + number with ≤2 decimals
PRICE_TOKEN = r"[$₹€£¥]?\d+(?:\.\d{1,2})?"
#: slash-joined run of price tokens at end of line
PRICE_TAIL = rf"((?:{PRICE_TOKEN}\s*/\s*)*{PRICE_TOKEN})\s*$"
#: price range at end of line (rule 4): lower bound wins
PRICE_RANGE = r"(\d+(?:\.\d{1,2})?)\s*-\s*(\d+(?:\.\d{1,2})?)\s*$"
#: header heuristic (rule 2): ALL CAPS, no digits, ≥3 chars
HEADER_RE = r"^[A-Z][A-Z &'\-]{2,}$"
#: sub-header heuristic (BetterVersion rule 6, prompt_template.py:100-148):
#: a short titled line ending with a colon, not ALL-CAPS, no prices
SUBHEADER_RE = r"^[A-Za-z][A-Za-z &'\-]{2,}:$"
MP_RE = r"(?i)(market\s*price|\bM\.?P\.?)\s*$"
SIZE_LABEL_RE = r"(?i)\(\s*small\s*/\s*medium\s*/\s*large\s*\)"
HALF_LABEL_RE = r"(?i)\(\s*half\s*/\s*full\s*\)"
TAG_SUFFIX_RE = r"(?i)\s*\((vegetarian|vegan|gluten[- ]free|mild|hot|spicy)\)\s*$"

_ITEM_FIELDS = ["item_name", "price", "half_plate_price", "full_plate_price",
                "small_price", "medium_price", "large_price", "display_override"]


def _item(name: Column, price=None, half=None, full=None, small=None, medium=None,
          large=None, display=None) -> Column:
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    return F.struct(
        name.alias("item_name"),
        (price if price is not None else null_d).alias("price"),
        (half if half is not None else null_d).alias("half_plate_price"),
        (full if full is not None else null_d).alias("full_plate_price"),
        (small if small is not None else null_d).alias("small_price"),
        (medium if medium is not None else null_d).alias("medium_price"),
        (large if large is not None else null_d).alias("large_price"),
        (display if display is not None else null_s).alias("display_override"),
    )


def split_lines(docs: DataFrame, doc_id: str = "doc_id", text: str = "text") -> DataFrame:
    """Normalize (F1) then explode into a (doc_id, line_no, line) table."""
    normalized = docs.select(doc_id, normalize_extracted_text(F.col(text)).alias("__norm"))
    return normalized.select(
        doc_id, F.posexplode(F.split(F.col("__norm"), "\n")).alias("line_no", "line")
    ).filter(F.length("line") > 0)


ITEM_ARRAY_DDL = (
    "array<struct<item_name:string,price:double,half_plate_price:double,"
    "full_plate_price:double,small_price:double,medium_price:double,"
    "large_price:double,display_override:string>>"
)


def parse_lines(lines: DataFrame) -> DataFrame:
    """(doc_id, line_no, line) → per-line classification + raw item array.

    Adds columns: __kind ('header'/'item'/'other'), __currency, __items.

    Heavy intermediates (stripped line, price tail, token/value arrays,
    cleaned name) are staged as real multi-referenced columns: Catalyst's
    CollapseProject keeps them materialized instead of inlining the regex
    trees into every consumer, which would re-evaluate each regex per
    reference (and per array element inside lambdas).
    """
    stripped = F.trim(
        F.regexp_replace(F.regexp_replace(F.col("line"), SIZE_LABEL_RE, ""), HALF_LABEL_RE, "")
    )
    s = lines.withColumn("__stripped", stripped)

    # "100-150" also matches PRICE_TAIL on its last token, so the range
    # branch must win whenever a dash immediately precedes the tail
    s = s.withColumns(
        {
            "__tail": F.regexp_extract("__stripped", PRICE_TAIL, 1),
            "__range_lo": F.regexp_extract("__stripped", PRICE_RANGE, 1),
            "__is_mp": F.col("__stripped").rlike(MP_RE),
        }
    )
    s = s.withColumn(
        "__toks",
        # a bare F.trim would receive the element index as its trim-string
        F.filter(F.transform(F.split("__tail", "/"), lambda x: F.trim(x)), lambda x: x != ""),
    )
    s = s.withColumns(
        {
            "__vals": F.transform("__toks", lambda t: F.regexp_replace(t, r"[^0-9.]", "").cast("double")),
            "__curs": F.filter(
                F.transform("__toks", lambda t: F.regexp_extract(t, r"^([$₹€£¥])", 1)),
                lambda c: c != "",
            ),
        }
    )

    tail = F.col("__tail")
    range_lo = F.col("__range_lo")
    is_mp = F.col("__is_mp")
    is_range = range_lo != ""
    vals = F.col("__vals")

    # name = line minus the matched price suffix, trailing filler trimmed
    name_base = F.when(
        tail != "",
        F.substring(F.col("__stripped"), F.lit(1), F.length("__stripped") - F.length(tail)),
    )
    raw_name = (
        F.when(is_mp, F.regexp_replace("__stripped", MP_RE, ""))
        .when(is_range, F.regexp_replace("__stripped", PRICE_RANGE, ""))
        .otherwise(name_base)
    )
    name_expr = F.regexp_replace(F.regexp_replace(raw_name, r"[\s.\-:]+$", ""), TAG_SUFFIX_RE, "")
    s = s.withColumn("__name", name_expr)
    s = s.withColumn("__name_parts", F.transform(F.split("__name", "/"), lambda x: F.trim(x)))

    name = F.col("__name")
    name_parts = F.col("__name_parts")
    n_names = F.size(name_parts)
    n_prices = F.size(vals)

    v = lambda i: F.element_at(vals, i)  # noqa: E731 — 1-based
    items = (
        F.when(is_mp, F.array(_item(name, display=F.lit("MP"))))
        .when(is_range, F.array(_item(name, price=range_lo.cast("double"))))
        .when(
            (tail != "") & (n_names > 1) & (n_names == n_prices),
            F.zip_with(name_parts, vals, lambda nm, val: _item(nm, price=val)),
        )
        .when((tail != "") & (n_prices == 3), F.array(_item(name, small=v(1), medium=v(2), large=v(3))))
        .when((tail != "") & (n_prices == 2), F.array(_item(name, half=v(1), full=v(2))))
        .when((tail != "") & (n_prices == 1), F.array(_item(name, price=v(1))))
        .otherwise(F.array().cast(ITEM_ARRAY_DDL))
    )

    classified = s.withColumns(
        {
            "__is_header": F.col("line").rlike(HEADER_RE),
            "__is_subheader": ~F.col("line").rlike(HEADER_RE)
            & F.col("__stripped").rlike(SUBHEADER_RE)
            & (F.col("__tail") == ""),
            "__currency": F.when(F.size("__curs") > 0, F.element_at("__curs", 1)),
        }
    )
    classified = classified.withColumn(
        "__items",
        F.when(~F.col("__is_header"), items).otherwise(F.array().cast(ITEM_ARRAY_DDL)),
    )
    kind = (
        F.when(F.col("__is_header"), "header")
        .when(F.col("__is_subheader"), "subheader")
        .when(F.size("__items") > 0, "item")
        .otherwise("other")
    )
    return classified.withColumn("__kind", kind).drop(
        "__stripped", "__tail", "__range_lo", "__is_mp", "__toks", "__vals",
        "__curs", "__name", "__name_parts",
    )


def assemble_items(lines: DataFrame, attach_descriptions: bool = True) -> DataFrame:
    """Classified lines → one row per menu item with category (rule 2),
    description (rule 1/5), spice/dietary tags, raw prices. One shuffle on
    doc_id (window) + optional aggregation for descriptions."""
    parsed = parse_lines(lines)

    w = Window.partitionBy("doc_id").orderBy("line_no").rowsBetween(Window.unboundedPreceding, 0)
    # all five running-last propagations in ONE select: they share the
    # window spec and are mutually independent, so Catalyst emits a
    # single Window operator (one pass over the sorted lines). The
    # previous sequential withColumn chain interleaved a Project between
    # each pair, which blocked CollapseWindow and ran FIVE Window passes
    # over every line (r15, guide §2.4 — same sort, same exchange, 5× the
    # frame evaluation; values unchanged, expressions identical).
    with_cat = parsed.select(
        "*",
        F.last(
            F.when(F.col("__kind") == "header", F.initcap(F.lower(F.col("line")))),
            ignorenulls=True,
        ).over(w).alias("category"),
        F.last(
            F.when(F.col("__kind") == "header", F.col("line_no")), ignorenulls=True
        ).over(w).alias("__cat_line"),
        F.last(
            F.when(F.col("__kind") == "subheader", F.col("line_no")), ignorenulls=True
        ).over(w).alias("__sub_line"),
        F.last(
            F.when(
                F.col("__kind") == "subheader",
                F.initcap(F.lower(F.regexp_replace(F.col("line"), r":\s*$", ""))),
            ),
            ignorenulls=True,
        ).over(w).alias("__sub_val"),
        F.last(
            F.when(F.col("__kind") == "item", F.col("line_no")), ignorenulls=True
        ).over(w).alias("__anchor"),
    ).withColumn(
        # a subheader only applies under the category header it follows
        # (BetterVersion: subcategories reset at each new section)
        "subcategory",
        F.when(F.col("__sub_line") > F.coalesce(F.col("__cat_line"), F.lit(-1)), F.col("__sub_val")),
    )

    items = (
        with_cat.filter(F.col("__kind") == "item")
        .select(
            "doc_id", "line_no", "category", "subcategory", "line",
            F.col("__currency").alias("currency_symbol"),
            F.posexplode("__items").alias("variant_idx", "it"),
        )
        .select(
            "doc_id", "line_no", "category", "subcategory", "line", "currency_symbol", "variant_idx",
            *[F.col(f"it.{f}").alias(f) for f in _ITEM_FIELDS],
        )
    )

    if attach_descriptions:
        descs = (
            with_cat.filter((F.col("__kind") == "other") & F.col("__anchor").isNotNull())
            .groupBy("doc_id", F.col("__anchor").alias("line_no"))
            .agg(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct(F.col("line_no").alias("n"), F.col("line").alias("t")))),
                        lambda s: s["t"],
                    ),
                    " ",
                ).alias("description")
            )
        )
        items = items.join(descs, ["doc_id", "line_no"], "left")
    else:
        items = items.withColumn("description", F.lit(None).cast("string"))

    blob = F.concat_ws(" ", F.col("line"), F.col("description"))
    spice = F.when(
        F.regexp_extract(blob, r"(?i)\b(extra hot|mild|spicy|hot)\b", 1) != "",
        F.initcap(F.regexp_extract(blob, r"(?i)\b(extra hot|mild|spicy|hot)\b", 1)),
    )
    tags = F.filter(
        F.array(
            F.when(blob.rlike(r"(?i)\bvegetarian\b|\(v\)"), "Vegetarian"),
            F.when(blob.rlike(r"(?i)\bvegan\b"), "Vegan"),
            F.when(blob.rlike(r"(?i)gluten[- ]free|\(gf\)"), "Gluten-Free"),
        ),
        lambda x: x.isNotNull(),
    )
    return items.withColumn("spice_level", spice).withColumn("dietary_tags", tags).drop("line")


def finalize_items(items: DataFrame, currency_default: str = "$",
                   detected_currency: Column | None = None) -> DataFrame:
    """Raw parsed items → validated 13-column output table (P2 filter,
    F2/F3/F5/F6/F7/F8 derivations; menu_models.py:177-221)."""
    out = (
        items.withColumn("item_name", clean_item_name(F.col("item_name")))
        .withColumn("currency", normalize_currency(F.col("currency_symbol")))
    )
    if detected_currency is not None:
        out = out.withColumn("currency", F.coalesce(F.col("currency"), detected_currency))
    out = out.filter(validity_predicate())
    disp = F.coalesce(F.col("display_override"), price_display(currency_default))
    return out.select(
        "doc_id",
        "item_name",
        "category",
        "subcategory",
        "description",
        disp.alias("price_display"),
        "price",
        "half_plate_price",
        "full_plate_price",
        "small_price",
        "medium_price",
        "large_price",
        "currency",
        "spice_level",
        flatten_dietary_tags(F.col("dietary_tags")).alias("dietary_tags"),
        primary_price().alias("primary_price"),
    )


def parse_menu_documents(docs: DataFrame, doc_id: str = "doc_id", text: str = "text",
                         currency_default: str = "$",
                         attach_descriptions: bool = True) -> DataFrame:
    """End-to-end: documents(doc_id, text) → validated item table.

    Distributed shape: narrow ops + one window shuffle on doc_id + one
    description agg — linear in corpus size, no driver-side loops; at 100 TB
    the doc_id partitioning carries every stage.
    """
    from restaurant_etl_spark.session import fan_out

    # the per-line regex battery is the most expensive map in the repo;
    # AQE's byte-based coalescing would happily run it one-core on small
    # inputs, so pin the parse at full width
    lines = split_lines(fan_out(docs, doc_id), doc_id, text)
    items = assemble_items(lines, attach_descriptions)
    return finalize_items(items, currency_default)


def document_metadata(items: DataFrame) -> DataFrame:
    """BetterVersion document-level extraction_metadata
    (BetterVersion/prompt_template.py:100-148): per-doc counts, category
    lists, price-pattern flags, detected currency — one aggregation on
    doc_id over the finalized item table."""
    return items.groupBy("doc_id").agg(
        F.count("*").alias("total_items"),
        F.count(F.when(F.col("primary_price").isNotNull(), 1)).alias("n_priced"),
        F.array_sort(F.array_distinct(F.collect_list("category"))).alias("categories"),
        F.array_sort(F.array_distinct(F.collect_list("subcategory"))).alias("subcategories"),
        F.max(F.col("small_price").isNotNull()).alias("has_size_variants"),
        F.max(F.col("half_plate_price").isNotNull()).alias("has_half_full"),
        F.min("currency").alias("detected_currency"),
    )
