"""Golden differential test for the rule parser: every one of the 16
``parse_menu_documents`` output columns, pinned on a multi-document corpus
built to stress the description and category bookkeeping:

- description lines that run across a header or a subheader keep attaching
  to the last item above them (Samosa, Biryani)
- priceless lines before a document's first item are dropped
- an item with no description gets null, not ""
- slash-split names share one description (Paneer / Chicken Pakora)
- a market-price item takes its own description lines with it when the
  validity filter drops it (Lobster Special)
- range and MP lines, an empty document and a junk-only document
- several documents with the same ``line_no`` values

The expected rows were recorded from the join-based parser that preceded
the single-aggregate one, so the two implementations are pinned to each
other.
"""

from __future__ import annotations

import pytest

from restaurant_etl_spark.operators.menu_parser import parse_menu_documents

CORPUS = [
    (1, """Welcome to the Spice House
family owned since the nineties
STARTERS
Samosa (2 pcs) ...... $5.50
crispy pastry with spiced potatoes
MAIN COURSE
served with rice
Curries:
Paneer / Chicken Pakora 8.00/9.50
shared batter, gluten-free (gf)
Biryani $9.00/$12.00/$15.00
slow cooked, extra hot
Butter Chicken (Half/Full) $10.00/$16.00
Plain Naan $2.00
Lobster Special Market Price
chef's catch of the day
Seasonal Curry 12-18
mild and vegan
DESSERTS
Kulfi (Vegetarian) €4.25
"""),
    (2, """Note: prices include tax
SOUPS
Tomato Soup $3.00
Lentil Soup $4.00/$6.00
hearty, spicy (v)
SIDES
Rice $2.50
Cold Sides:
Raita $1.75
cooling yogurt
Hot Sides:
Fries MP
"""),
    (3, ""),
    (4, "!!\nx\n--- Page 1 ---\n"),
    (5, """DRINKS
Tea $34.39/$38.11
Lassi / Soda / Water £3/£2/£1
Coffee 5-7
fresh brew
fresh brew
"""),
]

COLUMNS = [
    "doc_id", "item_name", "category", "subcategory", "description", "price_display",
    "price", "half_plate_price", "full_plate_price", "small_price", "medium_price",
    "large_price", "currency", "spice_level", "dietary_tags", "primary_price",
]

EXPECTED = [
    (1, 'Biryani', 'Main Course', 'Curries', 'slow cooked, extra hot', 'Small: $9.00 | Medium: $12.00 | Large: $15.00', None, None, None, 9.0, 12.0, 15.0, '$', 'Extra Hot', None, 15.0),
    (1, 'Butter Chicken', 'Main Course', 'Curries', None, 'Half: $10.00 | Full: $16.00', None, 10.0, 16.0, None, None, None, '$', None, None, 16.0),
    (1, 'Chicken Pakora', 'Main Course', 'Curries', 'shared batter, gluten-free (gf)', '$9.50', 9.5, None, None, None, None, None, None, None, 'Gluten-Free', 9.5),
    (1, 'Kulfi', 'Desserts', None, None, '€4.25', 4.25, None, None, None, None, None, '€', None, 'Vegetarian', 4.25),
    (1, 'Paneer', 'Main Course', 'Curries', 'shared batter, gluten-free (gf)', '$8.00', 8.0, None, None, None, None, None, None, None, 'Gluten-Free', 8.0),
    (1, 'Plain Naan', 'Main Course', 'Curries', None, '$2.00', 2.0, None, None, None, None, None, '$', None, None, 2.0),
    (1, 'Samosa (2 pcs)', 'Starters', None, 'crispy pastry with spiced potatoes served with rice', '$5.50', 5.5, None, None, None, None, None, '$', None, None, 5.5),
    (1, 'Seasonal Curry', 'Main Course', 'Curries', 'mild and vegan', '$12.00', 12.0, None, None, None, None, None, None, 'Mild', 'Vegan', 12.0),
    (2, 'Lentil Soup', 'Soups', None, 'hearty, spicy (v)', 'Half: $4.00 | Full: $6.00', None, 4.0, 6.0, None, None, None, '$', 'Spicy', 'Vegetarian', 6.0),
    (2, 'Raita', 'Sides', 'Cold Sides', 'cooling yogurt', '$1.75', 1.75, None, None, None, None, None, '$', None, None, 1.75),
    (2, 'Rice', 'Sides', None, None, '$2.50', 2.5, None, None, None, None, None, '$', None, None, 2.5),
    (2, 'Tomato Soup', 'Soups', None, None, '$3.00', 3.0, None, None, None, None, None, '$', None, None, 3.0),
    (5, 'Coffee', 'Drinks', None, 'fresh brew fresh brew', '$5.00', 5.0, None, None, None, None, None, None, None, None, 5.0),
    (5, 'Lassi', 'Drinks', None, None, '£3.00', 3.0, None, None, None, None, None, '£', None, None, 3.0),
    (5, 'Soda', 'Drinks', None, None, '£2.00', 2.0, None, None, None, None, None, '£', None, None, 2.0),
    (5, 'Tea', 'Drinks', None, None, 'Half: $34.39 | Full: $38.11', None, 34.39, 38.11, None, None, None, '$', None, None, 38.11),
    (5, 'Water', 'Drinks', None, None, '£1.00', 1.0, None, None, None, None, None, '£', None, None, 1.0),
]

#: without descriptions, spice and tags come from the item line alone
NO_DESC_TAGS = {(1, "Kulfi"): (None, "Vegetarian")}


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(CORPUS, "doc_id int, text string")


def test_golden_rows_with_descriptions(corpus):
    out = parse_menu_documents(corpus)
    assert out.columns == COLUMNS
    assert sorted(tuple(r) for r in out.collect()) == EXPECTED


def test_golden_rows_without_descriptions(corpus):
    out = parse_menu_documents(corpus, attach_descriptions=False)
    expected = sorted(
        r[:4] + (None,) + r[5:13] + NO_DESC_TAGS.get(r[:2], (None, None)) + r[15:]
        for r in EXPECTED
    )
    assert out.columns == COLUMNS
    assert sorted(tuple(r) for r in out.collect()) == expected
