"""PySpark-native analytics engine with the query and data-processing
capabilities of the Restaurant-ETL reference (see SURVEY.md).

Layout:
    session.py    SparkSession factory tuned for both local[32] tests and
                  large-cluster execution (AQE, broadcast, partition sizing).
    schemas.py    the menu-item contract: 13-column output order, currency
                  whitelist, price bounds and price-column order.
    sources/      table loaders, binaryFile ingestion + format routing,
                  pluggable document extractors, sinks.
    functions/    native Column function library (cleaning, text, vectors).
    operators/    query/operator library: relational surface, menu parser,
                  validation, summaries, dedup, similarity.
    streaming/    Structured Streaming windows / watermark / dedup helpers.

Physical-plan assertions (pushdown/broadcast/codegen) live in
tests/test_plans.py; the coverage map is COVERAGE.md.
"""

__version__ = "0.1.0"
