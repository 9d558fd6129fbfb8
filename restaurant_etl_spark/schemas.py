"""Canonical menu-item contract — the output column order, currency
whitelist, price bounds and price-column preference that replace the
reference's three-layer schema stack (JSON Schema at
restaurant_etl/parsers/llm_parser.py:26-57, pydantic at
restaurant_etl/models/menu_models.py:6-62, column-order projection at
menu_models.py:202-219).
"""

from __future__ import annotations

#: The 13-column output CSV contract, exact order
#: (menu_models.py:202-216, output/great_india.csv:1).
OUTPUT_COLUMNS = [
    "item_name",
    "category",
    "description",
    "price_display",
    "price",
    "half_plate_price",
    "full_plate_price",
    "small_price",
    "medium_price",
    "large_price",
    "currency",
    "spice_level",
    "dietary_tags",
]

#: Currency whitelist (menu_models.py:75).
CURRENCY_WHITELIST = ["$", "₹", "€", "£", "¥", "AUD", "USD", "INR", "EUR", "GBP"]

#: Price sanity bounds (menu_models.py:81-90): outside → whole record rejected.
PRICE_MIN = 0.0
PRICE_MAX = 100_000.0

#: Fixed chunk size for the text splitter (llm_parser.py:170).
CHUNK_CHARS = 2000

PRICE_COLUMNS = [
    "price",
    "half_plate_price",
    "full_plate_price",
    "small_price",
    "medium_price",
    "large_price",
]

#: Primary-price preference order (menu_models.py:125-133).
PRIMARY_PRICE_ORDER = [
    "price",
    "full_plate_price",
    "half_plate_price",
    "large_price",
    "medium_price",
    "small_price",
]
