"""Unit tests for the deterministic rule-based menu parser against the
reference's declared semantics (BetterVersion/prompt_template.py:13-47,
restaurant_etl/models/menu_models.py:64-133,177-221)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from restaurant_etl_spark.functions.cleaning import (
    chunk_text,
    normalize_extracted_text,
    price_display,
    token_estimate,
)
from restaurant_etl_spark.operators.menu_parser import parse_menu_documents

MENU = """--- Page 1 ---
APPETIZERS
Samosa (2 pcs) ...... $5.50
Crispy pastry with spiced potatoes
Paneer / Chicken Pakora 8.00/9.50
MAIN COURSE
Butter Chicken (Half/Full) $10.00/$16.00
rich tomato gravy
best seller
Dal Makhani (Vegetarian) ..... 11.00
Biryani $9.00/$12.00/$15.00
Lobster Special Market Price
Seasonal Curry 12-18
xx
!!
"""


def _parse(spark, text=MENU):
    docs = spark.createDataFrame([(1, text)], "doc_id int, text string")
    return {r["item_name"]: r.asDict() for r in parse_menu_documents(docs).collect()}


def test_category_from_headers(spark):
    items = _parse(spark)
    assert items["Samosa (2 pcs)"]["category"] == "Appetizers"
    assert items["Butter Chicken"]["category"] == "Main Course"


def test_single_price_dot_leader(spark):
    it = _parse(spark)["Samosa (2 pcs)"]
    assert it["price"] == 5.50
    assert it["price_display"] == "$5.50"
    assert it["currency"] == "$"
    assert it["primary_price"] == 5.50


def test_description_attaches_to_preceding_item(spark):
    items = _parse(spark)
    assert items["Samosa (2 pcs)"]["description"] == "Crispy pastry with spiced potatoes"
    # multiple description lines join in order (rule 1/5)
    assert items["Butter Chicken"]["description"] == "rich tomato gravy best seller"


def test_slash_names_split_to_paired_prices(spark):
    items = _parse(spark)
    assert items["Paneer"]["price"] == 8.00
    assert items["Chicken Pakora"]["price"] == 9.50
    # no currency symbol on the line -> currency null, display defaults to $
    assert items["Paneer"]["currency"] is None
    assert items["Paneer"]["price_display"] == "$8.00"


def test_half_full_pair(spark):
    it = _parse(spark)["Butter Chicken"]
    assert it["half_plate_price"] == 10.00 and it["full_plate_price"] == 16.00
    assert it["price"] is None
    assert it["price_display"] == "Half: $10.00 | Full: $16.00"
    assert it["primary_price"] == 16.00  # F6 order: price, full, half, ...


def test_size_triple(spark):
    it = _parse(spark)["Biryani"]
    assert (it["small_price"], it["medium_price"], it["large_price"]) == (9.0, 12.0, 15.0)
    assert it["price_display"] == "Small: $9.00 | Medium: $12.00 | Large: $15.00"
    assert it["primary_price"] == 15.00


def test_dietary_tag_and_spice(spark):
    items = _parse(spark)
    assert items["Dal Makhani"]["dietary_tags"] == "Vegetarian"
    hot = _parse(spark, "Hot Wings $7.00")["Hot Wings"]
    assert hot["spice_level"] == "Hot"


def test_market_price_item_dropped_by_validity(spark):
    # has_any_price filter (menu_models.py:92-101): no numeric price -> dropped
    assert "Lobster Special" not in _parse(spark)


def test_price_range_takes_lower_bound(spark):
    it = _parse(spark)["Seasonal Curry"]
    assert it["price"] == 12.0


def test_junk_lines_filtered(spark):
    # P4: len<=1 and punctuation-only lines never become items
    names = set(_parse(spark))
    assert names == {
        "Samosa (2 pcs)", "Paneer", "Chicken Pakora", "Butter Chicken",
        "Dal Makhani", "Biryani", "Seasonal Curry",
    }


def test_price_out_of_range_rejects_record(spark):
    # F4: price > 100000 rejects the WHOLE record (menu_models.py:81-90)
    items = _parse(spark, "Gold Leaf Dosa $200000.00\nPlain Dosa $5.00")
    assert "Gold Leaf Dosa" not in items and "Plain Dosa" in items


def test_normalize_page_markers_and_whitespace(spark):
    df = spark.createDataFrame(
        [("--- Page 1 ---\n  a   .....   b  \n\n\n!!\nx\nok line",)], "t string"
    )
    out = df.select(normalize_extracted_text(F.col("t")).alias("n")).collect()[0]["n"]
    # page marker removed, dot leader collapsed, spaces collapsed,
    # punct-only and len<=1 lines dropped (clean_text.py:3-27)
    assert out == "a b\nok line"


def test_chunking_multi_chunk_and_tokens(spark):
    text = "x" * 4500
    df = spark.createDataFrame([(text,)], "t string")
    rows = df.select(F.posexplode(chunk_text(F.col("t"))).alias("i", "c")).collect()
    assert [len(r["c"]) for r in rows] == [2000, 2000, 500]
    tok = df.select(token_estimate(F.col("t")).alias("n")).collect()[0]["n"]
    assert tok == 4500 // 4


def test_price_display_no_price_fallback(spark):
    df = spark.createDataFrame(
        [(None, None, None, None, None, None, None)],
        "price double, half_plate_price double, full_plate_price double, "
        "small_price double, medium_price double, large_price double, currency string",
    )
    assert df.select(price_display().alias("d")).collect()[0]["d"] == "No price"


def test_parser_plan_is_window_based_no_cartesian(spark):
    """Scale check: the parse plan is narrow ops + one window exchange on
    doc_id, whose partitioning the description aggregate reuses — one read
    of the input, no join of any kind."""
    docs = spark.createDataFrame([(i, MENU) for i in range(10)], "doc_id int, text string")
    plan = parse_menu_documents(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("ENSURE_REQUIREMENTS") == 1
    assert plan.count("Scan ExistingRDD") == 1
    assert plan.count("Window [") == 1


def test_each_line_regex_runs_once(spark):
    """Every per-line regex appears once in the optimized plan: the header
    flag feeds the subheader test, and the spice/tag blob is built once with
    one spice extraction. PRICE_RANGE and MP_RE each have two distinct uses
    (detect, then strip from the name)."""
    from restaurant_etl_spark.operators import menu_parser as mp

    docs = spark.createDataFrame([(1, MENU)], "doc_id int, text string")
    plan = parse_menu_documents(docs)._jdf.queryExecution().optimizedPlan().toString()
    once = (mp.HEADER_RE, mp.SUBHEADER_RE, mp.PRICE_TAIL, mp.TAG_SUFFIX_RE, mp.SPICE_RE)
    assert [plan.count(p) for p in once] == [1] * len(once)
    assert plan.count(mp.PRICE_RANGE) == 2 and plan.count(mp.MP_RE) == 2
    assert plan.count("concat_ws( , ") == 1


def test_parser_expressions_built_once_per_jvm(spark):
    """Different input frames share one cached build of the parser's
    expressions; only a new (attach_descriptions, currency_default) builds
    another one."""
    from restaurant_etl_spark.operators import menu_parser as mp

    builders = (mp._split_steps, mp._assemble_steps, mp._finalize_steps)
    small = spark.createDataFrame([(1, "Tea $3.00", "x")], "doc_id int, text string, note string")
    parse_menu_documents(small).collect()
    misses = [b.cache_info().misses for b in builders]

    wide = spark.createDataFrame(
        [(2**40, "SOUPS\nDal 4.00/6.00\nthick and spicy", 1.5, "y")],
        "doc_id bigint, text string, weight double, note string",
    )
    rows = parse_menu_documents(wide).collect()
    assert [b.cache_info().misses for b in builders] == misses
    assert [(r["doc_id"], r["item_name"], r["category"], r["description"], r["spice_level"],
             r["price_display"]) for r in rows] == [
        (2**40, "Dal", "Soups", "thick and spicy", "Spicy", "Half: $4.00 | Full: $6.00")
    ]

    rupees = parse_menu_documents(wide, currency_default="₹").collect()
    assert [r["price_display"] for r in rupees] == ["Half: ₹4.00 | Full: ₹6.00"]
    assert [b.cache_info().misses for b in builders] == [misses[0], misses[1], misses[2] + 1]

    # menu_category_summary's path: no description aggregate, null descriptions
    bare = parse_menu_documents(wide, attach_descriptions=False).collect()
    assert [(r["item_name"], r["category"], r["description"], r["spice_level"]) for r in bare] == [
        ("Dal", "Soups", None, None)
    ]
    bare_plan = parse_menu_documents(wide, attach_descriptions=False)._jdf.queryExecution()
    assert "Aggregate" not in bare_plan.executedPlan().toString()


SUBMENU = """APPETIZERS
Cold Starters:
Papdi Chaat $6.00
Hot Starters:
Samosa $5.00
MAIN COURSE
Butter Chicken $15.00
Curries:
Dal Tadka $11.00
"""


def test_subcategory_propagates_and_resets(spark):
    items = _parse(spark, SUBMENU)
    assert items["Papdi Chaat"]["subcategory"] == "Cold Starters"
    assert items["Samosa"]["subcategory"] == "Hot Starters"
    # new ALL-CAPS header resets the subcategory
    assert items["Butter Chicken"]["category"] == "Main Course"
    assert items["Butter Chicken"]["subcategory"] is None
    assert items["Dal Tadka"]["subcategory"] == "Curries"


def test_document_metadata_struct(spark):
    from restaurant_etl_spark.operators.menu_parser import document_metadata

    docs = spark.createDataFrame([(1, SUBMENU)], "doc_id int, text string")
    items = parse_menu_documents(docs)
    meta = document_metadata(items).collect()[0]
    assert meta["total_items"] == 4 and meta["n_priced"] == 4
    assert meta["categories"] == ["Appetizers", "Main Course"]
    assert meta["subcategories"] == ["Cold Starters", "Curries", "Hot Starters"]
    assert not meta["has_size_variants"] and not meta["has_half_full"]
    assert meta["detected_currency"] == "$"


def test_slash_price_tokens_keep_trailing_digits(spark):
    """Each slash-separated token is whitespace-trimmed only: a trim that
    also stripped the element index ("0", "1") as characters would parse
    $10 as 1.0 and $38.11 as 38.0."""
    docs = spark.createDataFrame(
        [(1, "Dal $10/$20"), (2, "Tea $34.39/$38.11"), (3, "Item 10 / Item 11 $4.00/$5.00")],
        "doc_id int, text string",
    )
    got = {
        r["item_name"]: (r["half_plate_price"], r["full_plate_price"], r["price"])
        for r in parse_menu_documents(docs).collect()
    }
    assert got["Dal"][:2] == (10.0, 20.0)
    assert got["Tea"][:2] == (34.39, 38.11)
    assert got["Item 10"][2] == 4.0 and got["Item 11"][2] == 5.0
