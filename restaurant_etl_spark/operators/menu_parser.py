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

import functools

from pyspark import SparkContext
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
SPICE_RE = r"(?i)\b(extra hot|mild|spicy|hot)\b"

_ITEM_FIELDS = ["item_name", "price", "half_plate_price", "full_plate_price",
                "small_price", "medium_price", "large_price", "display_override"]


def _item(name: Column, **values: Column) -> Column:
    """One item struct: ``values`` by _ITEM_FIELDS name, every other field null."""
    nulls = {f: F.lit(None).cast("string" if f == "display_override" else "double") for f in _ITEM_FIELDS}
    return F.struct(name.alias("item_name"), *[values.get(f, nulls[f]).alias(f) for f in _ITEM_FIELDS[1:]])


ITEM_ARRAY_DDL = (
    "array<struct<item_name:string,price:double,half_plate_price:double,"
    "full_plate_price:double,small_price:double,medium_price:double,"
    "large_price:double,display_override:string>>"
)


# The parser's ~300 Column expressions are built once per JVM (the ``jvm``
# argument only keys the cache) as tuples of DataFrame → DataFrame steps:
# with call-site tracking, rebuilding them per call took more Py4J round
# trips than planning and running the parse.


def _select(*cols: Column):
    return lambda df: df.select(*cols)


def _where(cond: Column):
    return lambda df: df.filter(cond)


def _run(df: DataFrame, steps) -> DataFrame:
    return functools.reduce(lambda d, step: step(d), steps, df)


@functools.cache
def _split_steps(jvm) -> tuple:
    norm = normalize_extracted_text(F.col("text"))
    return (
        _select(F.col("doc_id"), F.posexplode(F.split(norm, "\n")).alias("line_no", "line")),
        _where(F.length("line") > 0),
    )


def split_lines(docs: DataFrame, doc_id: str = "doc_id", text: str = "text") -> DataFrame:
    """Normalize (F1) then explode into a (doc_id, line_no, line) table."""
    return _run(docs.select(doc_id, text).toDF("doc_id", "text"), _split_steps(SparkContext._gateway))


def _classify_steps() -> list:
    """(doc_id, line_no, line) → per-line (__currency, __items, __kind),
    where __kind is 'header'/'subheader'/'item'/'other'.

    Heavy intermediates (stripped line, price tail, header flag, token/value
    arrays, cleaned name) are staged as real multi-referenced columns:
    Catalyst's CollapseProject keeps them materialized instead of inlining
    the regex trees into every consumer, which would re-evaluate each regex
    per reference (and per array element inside lambdas).
    """
    line, stripped = F.col("line"), F.col("__stripped")
    tail, range_lo, is_mp = F.col("__tail"), F.col("__range_lo"), F.col("__is_mp")
    is_header, vals = F.col("__is_header"), F.col("__vals")
    name, name_parts = F.col("__name"), F.col("__name_parts")
    is_range, priced = range_lo != "", tail != ""

    # a bare F.trim would receive the element index as its trim-string
    toks = F.filter(F.transform(F.split(tail, "/"), lambda x: F.trim(x)), lambda x: x != "")
    vals_expr = F.transform("__toks", lambda t: F.regexp_replace(t, r"[^0-9.]", "").cast("double"))
    curs = F.filter(F.transform("__toks", lambda t: F.regexp_extract(t, r"^([$₹€£¥])", 1)), lambda c: c != "")

    # name = line minus the matched price suffix, trailing filler trimmed.
    # "100-150" also matches PRICE_TAIL on its last token, so the range
    # branch must win whenever a dash immediately precedes the tail
    name_base = F.when(priced, F.substring(stripped, F.lit(1), F.length(stripped) - F.length(tail)))
    raw_name = (
        F.when(is_mp, F.regexp_replace(stripped, MP_RE, ""))
        .when(is_range, F.regexp_replace(stripped, PRICE_RANGE, ""))
        .otherwise(name_base)
    )
    name_expr = F.regexp_replace(F.regexp_replace(raw_name, r"[\s.\-:]+$", ""), TAG_SUFFIX_RE, "")

    n_names, n_prices = F.size(name_parts), F.size(vals)
    v = lambda i: F.element_at(vals, i)  # noqa: E731 — 1-based
    no_items = F.array().cast(ITEM_ARRAY_DDL)
    items = (
        F.when(is_header, no_items)
        .when(is_mp, F.array(_item(name, display_override=F.lit("MP"))))
        .when(is_range, F.array(_item(name, price=range_lo.cast("double"))))
        .when(
            priced & (n_names > 1) & (n_names == n_prices),
            F.zip_with(name_parts, vals, lambda nm, val: _item(nm, price=val)),
        )
        .when(priced & (n_prices == 3),
              F.array(_item(name, small_price=v(1), medium_price=v(2), large_price=v(3))))
        .when(priced & (n_prices == 2), F.array(_item(name, half_plate_price=v(1), full_plate_price=v(2))))
        .when(priced & (n_prices == 1), F.array(_item(name, price=v(1))))
        .otherwise(no_items)
    )
    is_subheader = ~is_header & stripped.rlike(SUBHEADER_RE) & (tail == "")
    kind = (
        F.when(is_header, "header")
        .when(F.col("__is_subheader"), "subheader")
        .when(F.size("__items") > 0, "item")
        .otherwise("other")
    )

    every = F.col("*")
    stripped_expr = F.trim(F.regexp_replace(F.regexp_replace(line, SIZE_LABEL_RE, ""), HALF_LABEL_RE, ""))
    keep = [F.col("doc_id"), F.col("line_no"), line]
    return [
        _select(every, stripped_expr.alias("__stripped")),
        _select(
            every,
            F.regexp_extract(stripped, PRICE_TAIL, 1).alias("__tail"),
            F.regexp_extract(stripped, PRICE_RANGE, 1).alias("__range_lo"),
            stripped.rlike(MP_RE).alias("__is_mp"),
            line.rlike(HEADER_RE).alias("__is_header"),
        ),
        _select(every, toks.alias("__toks")),
        _select(every, vals_expr.alias("__vals"), curs.alias("__curs")),
        _select(every, name_expr.alias("__name")),
        _select(every, F.transform(F.split(name, "/"), lambda x: F.trim(x)).alias("__name_parts")),
        _select(
            *keep, is_header, is_subheader.alias("__is_subheader"),
            F.when(F.size("__curs") > 0, F.element_at("__curs", 1)).alias("__currency"),
            items.alias("__items"),
        ),
        _select(*keep, F.col("__currency"), F.col("__items"), kind.alias("__kind")),
    ]


@functools.cache
def _assemble_steps(jvm, attach_descriptions: bool) -> tuple:
    doc_id, line_no, line = F.col("doc_id"), F.col("line_no"), F.col("line")
    kind, anchor = F.col("__kind"), F.col("__anchor")

    # all five running-last propagations in ONE select: they share the
    # window spec and are mutually independent, so Catalyst emits a single
    # Window operator (one pass over the sorted lines)
    w = Window.partitionBy("doc_id").orderBy("line_no").rowsBetween(Window.unboundedPreceding, 0)

    def last_of(k: str, value: Column) -> Column:
        return F.last(F.when(kind == k, value), ignorenulls=True).over(w)

    window = _select(
        F.col("*"),
        last_of("header", F.initcap(F.lower(line))).alias("category"),
        last_of("header", line_no).alias("__cat_line"),
        last_of("subheader", line_no).alias("__sub_line"),
        last_of("subheader", F.initcap(F.lower(F.regexp_replace(line, r":\s*$", "")))).alias("__sub_val"),
        last_of("item", line_no).alias("__anchor"),
    )
    # a subheader only applies under the category header it follows
    # (BetterVersion: subcategories reset at each new section)
    subcategory = F.when(
        F.col("__sub_line") > F.coalesce(F.col("__cat_line"), F.lit(-1)), F.col("__sub_val")
    ).alias("subcategory")
    item_cols = [line_no, F.col("category"), subcategory, line, F.col("__currency").alias("currency_symbol")]

    if attach_descriptions:
        # every line from an item to the next one shares its __anchor, so
        # one aggregate on (doc_id, __anchor) holds the item row and its
        # description lines; the doc_id partitioning of the window already
        # clusters those keys, so it adds no exchange
        it = F.col("__it")
        descs = F.sort_array(F.col("__desc"))
        gather = [
            _where(anchor.isNotNull()),
            lambda df: df.groupBy(doc_id, anchor).agg(
                F.first(F.when(kind == "item", F.struct(*item_cols, F.col("__items"))), ignorenulls=True)
                .alias("__it"),
                F.collect_list(F.when(kind == "other", F.struct(line_no.alias("n"), line.alias("t"))))
                .alias("__desc"),
            ),
            _select(
                doc_id, *[it[c].alias(c) for c in ("line_no", "category", "subcategory", "line", "currency_symbol")],
                F.when(F.size(descs) > 0, F.array_join(F.transform(descs, lambda d: d["t"]), " "))
                .alias("description"),
                F.posexplode(it["__items"]).alias("variant_idx", "__v"),
            ),
        ]
    else:
        gather = [
            _where(kind == "item"),
            _select(
                doc_id, *item_cols, F.lit(None).cast("string").alias("description"),
                F.posexplode("__items").alias("variant_idx", "__v"),
            ),
        ]

    head = [doc_id, line_no, *[F.col(c) for c in ("category", "subcategory", "currency_symbol", "variant_idx")]]
    out = [*head, *[F.col(f) for f in _ITEM_FIELDS], F.col("description")]
    blob = F.col("__blob")
    tags = F.filter(
        F.array(
            F.when(blob.rlike(r"(?i)\bvegetarian\b|\(v\)"), "Vegetarian"),
            F.when(blob.rlike(r"(?i)\bvegan\b"), "Vegan"),
            F.when(blob.rlike(r"(?i)gluten[- ]free|\(gf\)"), "Gluten-Free"),
        ),
        lambda x: x.isNotNull(),
    )
    return (
        *_classify_steps(),
        window,
        *gather,
        _select(
            *head, *[F.col("__v")[f].alias(f) for f in _ITEM_FIELDS], F.col("description"),
            F.concat_ws(" ", line, F.col("description")).alias("__blob"),
        ),
        _select(
            *out, F.nullif(F.initcap(F.regexp_extract(blob, SPICE_RE, 1)), F.lit("")).alias("spice_level"),
            tags.alias("dietary_tags"),
        ),
    )


def assemble_items(lines: DataFrame, attach_descriptions: bool = True) -> DataFrame:
    """Classified lines → one row per menu item with category (rule 2),
    description (rule 1/5), spice/dietary tags, raw prices.

    One window exchange on doc_id + one co-partitioned aggregate on
    (doc_id, item anchor) for the descriptions: the lines are read and
    classified once, and the aggregate reuses the window's partitioning."""
    return _run(lines, _assemble_steps(SparkContext._gateway, attach_descriptions))


@functools.cache
def _finalize_steps(jvm, currency_default: str) -> tuple:
    disp = F.coalesce(F.col("display_override"), price_display(currency_default))
    return (
        lambda df: df.withColumns({
            "item_name": clean_item_name(F.col("item_name")),
            "currency": normalize_currency(F.col("currency_symbol")),
        }),
        _where(validity_predicate()),
        _select(
            *[F.col(c) for c in ("doc_id", "item_name", "category", "subcategory", "description")],
            disp.alias("price_display"),
            *[F.col(c) for c in ("price", "half_plate_price", "full_plate_price", "small_price",
                                 "medium_price", "large_price", "currency", "spice_level")],
            flatten_dietary_tags(F.col("dietary_tags")).alias("dietary_tags"),
            primary_price().alias("primary_price"),
        ),
    )


def finalize_items(items: DataFrame, currency_default: str = "$") -> DataFrame:
    """Raw parsed items → validated 13-column output table (P2 filter,
    F2/F3/F5/F6/F7 derivations; menu_models.py:177-221)."""
    return _run(items, _finalize_steps(SparkContext._gateway, currency_default))


def parse_menu_documents(docs: DataFrame, doc_id: str = "doc_id", text: str = "text",
                         currency_default: str = "$",
                         attach_descriptions: bool = True) -> DataFrame:
    """End-to-end: documents(doc_id, text) → validated item table.

    Distributed shape: narrow ops + one window exchange on doc_id + one
    co-partitioned aggregate for descriptions — one read of the input,
    linear in corpus size, nothing collected to Python; at 100 TB the doc_id
    partitioning carries every stage.
    """
    from restaurant_etl_spark.session import fan_out

    # the per-line regex battery is the most expensive map in the repo;
    # AQE's byte-based coalescing would happily run it one-core on small
    # inputs, so pin the parse at full width
    lines = split_lines(fan_out(docs, doc_id), doc_id, text)
    return finalize_items(assemble_items(lines, attach_descriptions), currency_default)


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
