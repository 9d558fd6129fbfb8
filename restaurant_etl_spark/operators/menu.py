"""Menu-ETL domain queries (SURVEY.md §2A) wired into the driver contract.

The reference's semantic core — normalize → chunk → parse menu lines into
validated 13-column item records → summary aggregates
(process_menu.py:34-113, restaurant_etl/models/menu_models.py:177-250) —
exercised end-to-end through the deterministic rule parser
(operators/menu_parser.py) and oracle-checked against DuckDB.

Because the driver's ``documents`` table is synthetic word-soup (not menus),
the parser queries synthesize menu-shaped text FROM the relational tables
with binary-exact prices (integers and quarters format identically under
Java's ``format_string`` and C's ``printf``), so a DuckDB oracle can state
the expected item table in closed form. Unit tests (tests/test_menu_parser.py)
cover the non-synthesizable edge semantics (headers, descriptions, Market
Price, ranges, slash-splitting) against reference behavior.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from restaurant_etl_spark.functions.cleaning import (
    chunk_text,
    normalize_extracted_text,
    token_estimate,
)
from restaurant_etl_spark.operators.menu_parser import parse_menu_documents
from restaurant_etl_spark.operators.registry import register
from restaurant_etl_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _stage_menu_txt(spark: SparkSession, sf_dir: str, with_bad: bool = False) -> str:
    """Stage the first 100 synthesized menu docs as .txt fixture files for
    the binaryFile source (plus one unsupported-format file when
    ``with_bad``). Atomic + fingerprint-keyed (sources/staging.py) so
    concurrent pytest/bench/driver runs never observe a half-staged dir.
    Driver-side collect is fixture setup of 100 tiny files, not a measured
    operator path."""
    import os as _os

    from restaurant_etl_spark.sources.staging import stage_once
    from restaurant_etl_spark.sources.tables import table_fingerprint

    def build(scratch: str) -> None:
        docs = _part_menu_docs(_t(spark, sf_dir, "part").filter(F.col("p_partkey") < 100))
        for r in docs.collect():
            with open(_os.path.join(scratch, f"{r['doc_id']}.txt"), "w") as fh:
                fh.write(r["text"])
        if with_bad:
            with open(_os.path.join(scratch, "broken_0.xyz"), "wb") as fh:
                fh.write(b"????")

    suffix = "bad" if with_bad else "ok"
    return stage_once(
        f"menu_files_{suffix}_{_os.path.basename(_os.path.normpath(sf_dir))}",
        table_fingerprint(sf_dir, "part"),
        build,
    )


def _fmt(c: Column) -> Column:
    return F.format_string("%.2f", c)


def _part_menu_docs(p: DataFrame) -> DataFrame:
    """One single-line menu document per part, cycling through the four price
    shapes the reference's prompt rules distinguish
    (BetterVersion/prompt_template.py:13-47):

      mode 0  dot-leader single price        "red widget .... $900.25"
      mode 1  half/full pair                 "red widget (Half/Full) $900.50/$901.00"
      mode 2  small/medium/large triple      "red widget $901.00/$902.00/$903.00"
      mode 3  dietary-tag suffix + price     "red widget (Vegetarian) $900.75"

    Prices derive from floor(p_retailprice) plus exact binary fractions so
    Spark/DuckDB formatting agrees bit-for-bit.
    """
    b = F.floor("p_retailprice").cast("double")
    mode = F.col("p_partkey") % 4
    text = (
        F.when(mode == 0, F.concat("p_name", F.lit(" .... $"), _fmt(b + 0.25)))
        .when(mode == 1, F.concat("p_name", F.lit(" (Half/Full) $"), _fmt(b + 0.5), F.lit("/$"), _fmt(b + 1)))
        .when(mode == 2, F.concat("p_name", F.lit(" $"), _fmt(b + 1), F.lit("/$"), _fmt(b + 2), F.lit("/$"), _fmt(b + 3)))
        .otherwise(F.concat("p_name", F.lit(" (Vegetarian) $"), _fmt(b + 0.75)))
    )
    return p.select(F.col("p_partkey").alias("doc_id"), text.alias("text"))


@register(
    "menu_parse_items",
    oracle="""
    WITH m AS (
        SELECT p_partkey AS doc_id,
               p_partkey % 4 AS mode,
               p_name AS name,
               floor(p_retailprice) AS b,
               lower(regexp_extract(p_name, '(?i)\\b(extra hot|mild|spicy|hot)\\b', 1)) AS spice_raw
        FROM part
    )
    SELECT doc_id,
           name AS item_name,
           CAST(NULL AS VARCHAR) AS category,
           CAST(NULL AS VARCHAR) AS subcategory,
           CAST(NULL AS VARCHAR) AS description,
           CASE mode
             WHEN 0 THEN '$' || printf('%.2f', b + 0.25)
             WHEN 1 THEN 'Half: $' || printf('%.2f', b + 0.5) || ' | Full: $' || printf('%.2f', b + 1)
             WHEN 2 THEN 'Small: $' || printf('%.2f', b + 1) || ' | Medium: $' || printf('%.2f', b + 2)
                     || ' | Large: $' || printf('%.2f', b + 3)
             WHEN 3 THEN '$' || printf('%.2f', b + 0.75)
           END AS price_display,
           CASE mode WHEN 0 THEN b + 0.25 WHEN 3 THEN b + 0.75 END AS price,
           CASE WHEN mode = 1 THEN b + 0.5 END AS half_plate_price,
           CASE WHEN mode = 1 THEN b + 1.0 END AS full_plate_price,
           CASE WHEN mode = 2 THEN b + 1.0 END AS small_price,
           CASE WHEN mode = 2 THEN b + 2.0 END AS medium_price,
           CASE WHEN mode = 2 THEN b + 3.0 END AS large_price,
           '$' AS currency,
           CASE spice_raw WHEN 'hot' THEN 'Hot' WHEN 'mild' THEN 'Mild'
                          WHEN 'spicy' THEN 'Spicy' WHEN 'extra hot' THEN 'Extra Hot' END AS spice_level,
           CASE WHEN mode = 3 THEN 'Vegetarian' END AS dietary_tags,
           CASE mode WHEN 0 THEN b + 0.25 WHEN 1 THEN b + 1.0
                     WHEN 2 THEN b + 3.0 WHEN 3 THEN b + 0.75 END AS primary_price
    FROM m
    """,
    category="menu",
)
def menu_parse_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end rule parse: synthesized menu docs → validated item table.

    Exercises F1 normalize, line explode, all four price-shape rules, F2
    name cleanup, F3 currency, P2 validity, F5 price_display, F6 primary
    price, F7 tag flatten (menu_models.py:64-133,177-221)."""
    docs = _part_menu_docs(_t(spark, sf_dir, "part"))
    return parse_menu_documents(docs)


@register(
    "menu_category_summary",
    oracle="""
    SELECT upper(substr(p_type, 1, 1)) || lower(substr(p_type, 2)) AS category,
           count(*)                                          AS n_items,
           CAST(count(*) AS BIGINT)                          AS n_priced,
           round(min(floor(p_retailprice) + 0.25), 2)        AS min_price,
           round(max(floor(p_retailprice) + 0.25), 2)        AS max_price,
           round(avg(floor(p_retailprice) + 0.25), 4)        AS avg_price
    FROM part
    GROUP BY p_type
    """,
    category="menu",
)
def menu_category_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's get_summary (menu_models.py:223-250: A1 category
    histogram, A2 priced count, A3 min/max/avg) over multi-line menu docs
    with ALL-CAPS section headers — exercises the rule-2 category window.

    One doc per (p_type, 500-part bucket): header line + one priced item
    line per part. Bucketing bounds document size (≤500 lines) so the
    collect_list rows and the per-doc window stay O(1) at any scale factor
    — a single doc per type would grow linearly with the corpus."""
    p = _t(spark, sf_dir, "part")
    line = F.concat("p_name", F.lit(" $"), _fmt(F.floor("p_retailprice").cast("double") + 0.25))
    docs = (
        p.select(
            "p_type",
            (F.col("p_partkey") / 500).cast("bigint").alias("bucket"),
            F.struct("p_partkey", line.alias("line")).alias("s"),
        )
        .groupBy("p_type", "bucket")
        .agg(
            F.array_join(F.transform(F.array_sort(F.collect_list("s")), lambda s: s["line"]), "\n").alias("body")
        )
        .select(
            F.concat("p_type", F.lit("_"), "bucket").alias("doc_id"),
            F.concat(F.upper("p_type"), F.lit("\n"), "body").alias("text"),
        )
    )
    items = parse_menu_documents(docs, attach_descriptions=False)
    return items.groupBy("category").agg(
        F.count("*").alias("n_items"),
        F.count(F.when(F.col("primary_price").isNotNull(), 1)).alias("n_priced"),
        F.round(F.min("primary_price"), 2).alias("min_price"),
        F.round(F.max("primary_price"), 2).alias("max_price"),
        F.round(F.avg("primary_price"), 4).alias("avg_price"),
    )


@register(
    "menu_normalize_chunk_tokens",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(trim(text), '\\.{2,}', ' ', 'g'),
                                   '[ \\t]{2,}', ' ', 'g')) AS norm
        FROM documents
    )
    SELECT doc_id,
           0 AS chunk_idx,
           norm AS chunk_text,
           CAST(length(norm) AS INTEGER) AS chunk_chars,
           greatest(1, length(norm) // 4) AS n_tokens
    FROM t
    """,
    category="menu",
)
def menu_normalize_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 normalize + R1 fixed-width chunking + F10 token estimate over the
    documents corpus (clean_text.py:3-27, llm_parser.py:20-21,169-181).

    The corpus is single-line and < 2000 chars so every doc is one chunk;
    the multi-chunk path is unit-tested (tests/test_menu_parser.py)."""
    d = _t(spark, sf_dir, "documents")
    norm = normalize_extracted_text(F.col("text"))
    return (
        d.select("doc_id", F.posexplode(chunk_text(norm)).alias("chunk_idx", "chunk_text"))
        .withColumn("chunk_chars", F.length("chunk_text"))
        .withColumn("n_tokens", token_estimate(F.col("chunk_text")))
    )


@register(
    "menu_pipeline_files",
    oracle="""
    WITH m AS (
        SELECT p_partkey AS doc_id,
               p_partkey % 4 AS mode,
               p_name AS name,
               floor(p_retailprice) AS b,
               lower(regexp_extract(p_name, '(?i)\\b(extra hot|mild|spicy|hot)\\b', 1)) AS spice_raw
        FROM part WHERE p_partkey < 100
    )
    SELECT doc_id,
           name AS item_name,
           CASE mode
             WHEN 0 THEN '$' || printf('%.2f', b + 0.25)
             WHEN 1 THEN 'Half: $' || printf('%.2f', b + 0.5) || ' | Full: $' || printf('%.2f', b + 1)
             WHEN 2 THEN 'Small: $' || printf('%.2f', b + 1) || ' | Medium: $' || printf('%.2f', b + 2)
                     || ' | Large: $' || printf('%.2f', b + 3)
             WHEN 3 THEN '$' || printf('%.2f', b + 0.75)
           END AS price_display,
           CASE mode WHEN 0 THEN b + 0.25 WHEN 1 THEN b + 1.0
                     WHEN 2 THEN b + 3.0 WHEN 3 THEN b + 0.75 END AS primary_price,
           '$' AS currency,
           CASE spice_raw WHEN 'hot' THEN 'Hot' WHEN 'mild' THEN 'Mild'
                          WHEN 'spicy' THEN 'Spicy' WHEN 'extra hot' THEN 'Extra Hot' END AS spice_level,
           CASE WHEN mode = 3 THEN 'Vegetarian' END AS dietary_tags
    FROM m
    """,
    category="menu",
)
def menu_pipeline_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1→S7 end-to-end on real files: stage the first 100 synthesized menu
    docs as .txt files, scan them back with the binaryFile source, route by
    format, extract natively, rule-parse, project the item table.

    Exercises read_binary_dir (S1), with_format (S2), extract_binary_text's
    native-text path (S3), and the parser — oracle-checked in closed form.
    File staging is driver-side fixture setup (100 tiny files), not part of
    the measured operator path."""
    from restaurant_etl_spark.sources.binary import (
        extract_binary_text,
        read_binary_dir,
        with_format,
    )

    from restaurant_etl_spark.sources.staging import staged

    stage = _stage_menu_txt(spark, sf_dir)
    # extract ONCE per corpus: the Python extraction pass must not re-run
    # per downstream consumer or per call. The stage dir is derived from
    # ``part``, so ``part``'s fingerprint is the extraction's identity.
    extracted = staged(
        spark, sf_dir, "part", "menu_extracted_ok",
        lambda: extract_binary_text(
            with_format(read_binary_dir(spark, stage, glob="*.txt"))
        ),
    ).filter(F.col("success"))
    docs = extracted.select(
        F.regexp_extract("path", r"([0-9]+)\.txt$", 1).cast("bigint").alias("doc_id"),
        "text",
    )
    items = parse_menu_documents(docs)
    return items.select(
        "doc_id", "item_name", "price_display", "primary_price",
        "currency", "spice_level", "dietary_tags",
    )


def _stage_menu_scans(spark: SparkSession, sf_dir: str) -> str:
    """Stage the first 40 menu docs as SCANNED media: doc_id % 4 == 0 as
    PNG, % 4 == 2 as baseline JPEG (q=1 — near-lossless, the binarizer
    tolerates the ±1 rounding), odd doc_ids as text-layer-free PDFs
    wrapping a DeviceGray image XObject — all rendered with the 5×5 glyph
    font (sources/glyph_ocr.py). Fingerprint-keyed and atomic like
    _stage_menu_txt; driver-side fixture setup of 40 tiny files."""
    import os as _os

    from restaurant_etl_spark.sources.glyph_ocr import (
        make_scanned_pdf,
        render_text_image,
    )
    from restaurant_etl_spark.sources.jpeg_codec import encode_jpeg
    from restaurant_etl_spark.sources.media_codecs import encode_png
    from restaurant_etl_spark.sources.staging import stage_once
    from restaurant_etl_spark.sources.tables import table_fingerprint

    def build(scratch: str) -> None:
        docs = _part_menu_docs(_t(spark, sf_dir, "part").filter(F.col("p_partkey") < 40))
        for r in docs.collect():
            px = render_text_image(r["text"])
            did = int(r["doc_id"])
            if did % 4 == 0:
                with open(_os.path.join(scratch, f"{did}.png"), "wb") as fh:
                    fh.write(encode_png(px, filter_type=did % 5))
            elif did % 4 == 2:
                with open(_os.path.join(scratch, f"{did}.jpg"), "wb") as fh:
                    fh.write(encode_jpeg(px))
            else:
                with open(_os.path.join(scratch, f"{did}.pdf"), "wb") as fh:
                    fh.write(make_scanned_pdf(px))

    # v2: fixture layout versioned INTO the stage key — stage_once caches by
    # (name, source fingerprint) only, so a layout change must change name
    return stage_once(
        f"menu_scans_v2_{_os.path.basename(_os.path.normpath(sf_dir))}",
        table_fingerprint(sf_dir, "part"),
        build,
    )


@register(
    "menu_ocr_scanned_docs",
    oracle="""
    WITH m AS (
        SELECT p_partkey AS doc_id,
               p_partkey % 4 AS mode,
               p_name AS name,
               floor(p_retailprice) AS b
        FROM part WHERE p_partkey < 40
    )
    SELECT doc_id,
           upper(CASE mode
             WHEN 0 THEN name || ' .... $' || printf('%.2f', b + 0.25)
             WHEN 1 THEN name || ' (Half/Full) $' || printf('%.2f', b + 0.5)
                      || '/$' || printf('%.2f', b + 1)
             WHEN 2 THEN name || ' $' || printf('%.2f', b + 1) || '/$'
                      || printf('%.2f', b + 2) || '/$' || printf('%.2f', b + 3)
             ELSE name || ' (Vegetarian) $' || printf('%.2f', b + 0.75)
           END) AS text,
           CASE WHEN doc_id % 2 = 0 THEN 'image_azure_ocr'
                ELSE 'pdf_azure_ocr' END AS extraction_method,
           TRUE AS success
    FROM m
    """,
    category="menu",
)
def menu_ocr_scanned_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 + S5 under the correctness gate with REAL pixels end-to-end: menu
    docs rendered as glyph rasters (PNG and baseline-JPEG images, plus
    scanned PDFs with no text layer), scanned back through binaryFile →
    format routing → the OCR fallback/image paths with the in-sandbox
    template-matching transport (sources/glyph_ocr.py), word-confidence
    gates active. The oracle states the recognized text in closed form
    (the glyph font is uppercase-fold, hence upper()); a canned-string
    stub cannot match it, and the JPEG rows prove recognition survives a
    real lossy encode. Ref: pdf_extractor.py:56-97 (fallback threshold +
    OCR), image_extractor.py:16-87 (image OCR),
    azure_ocr_extractor.py:22-39."""
    from restaurant_etl_spark.sources.binary import (
        extract_binary_text,
        read_binary_dir,
        with_format,
    )
    from restaurant_etl_spark.sources.glyph_ocr import template_ocr_transport

    stage = _stage_menu_scans(spark, sf_dir)
    raw = with_format(read_binary_dir(spark, stage))
    extracted = extract_binary_text(raw, ocr_transport=template_ocr_transport)
    doc_id = F.regexp_extract("path", r"([0-9]+)\.(?:png|jpg|pdf)$", 1).cast("bigint")
    return extracted.select(
        doc_id.alias("doc_id"), "text", "extraction_method", "success"
    )


@register(
    "menu_extraction_confidence",
    oracle="""
    SELECT p_partkey AS doc_id,
           1 AS n_total,
           CASE WHEN p_partkey % 8 = 4 THEN 0 ELSE 1 END AS n_valid,
           CAST(CASE WHEN p_partkey % 8 = 4 THEN 0 ELSE 1 END AS DOUBLE) AS confidence
    FROM part
    """,
    category="menu",
)
def menu_extraction_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — per-document extraction confidence = valid / max(1, total)
    (llm_parser.py:111): counts taken BEFORE and AFTER the validity filter,
    joined on doc_id (SURVEY §7.4 — not an accumulator).

    Docs where p_partkey % 8 == 4 get an out-of-range price ($200000.25 >
    PRICE_MAX), so the parsed record exists pre-filter but the whole record
    is rejected by F4/P2 — confidence drops to 0 for exactly those docs."""
    from restaurant_etl_spark.operators.llm_parse import extraction_confidence
    from restaurant_etl_spark.operators.menu_parser import (
        assemble_items,
        finalize_items,
        split_lines,
    )

    p = _t(spark, sf_dir, "part")
    bad = F.col("p_partkey") % 8 == 4
    b = F.floor("p_retailprice").cast("double")
    text = F.when(bad, F.concat("p_name", F.lit(" $200000.25"))).otherwise(
        F.concat("p_name", F.lit(" $"), _fmt(b + 0.25))
    )
    docs = p.select(F.col("p_partkey").alias("doc_id"), text.alias("text"))

    lines = split_lines(docs)
    raw_items = assemble_items(lines, attach_descriptions=False)
    valid_items = finalize_items(raw_items)
    out = extraction_confidence(raw_items, valid_items)
    return out.select(
        "doc_id",
        F.col("n_total").cast("int").alias("n_total"),
        F.col("n_valid").cast("int").alias("n_valid"),
        "confidence",
    )


@register(
    "menu_batch_status_rollup",
    oracle="""
    SELECT 'native_text' AS extraction_method, TRUE AS success,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(count(*) AS BIGINT) AS n_items
    FROM part WHERE p_partkey < 100
    UNION ALL
    SELECT 'unsupported', FALSE, 1, 0
    """,
    category="menu",
)
def menu_batch_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — batch status rollup (process_menu.py:136-164): per-file
    {status, items} accumulated as a groupBy over the extraction+parse
    results instead of a driver loop. Every staged single-line doc parses
    to exactly one item (half/full and size triples are ONE item with
    multiple price columns); a planted unsupported file exercises the
    failure row."""
    from restaurant_etl_spark.sources.binary import (
        extract_binary_text,
        read_binary_dir,
        with_format,
    )

    from restaurant_etl_spark.sources.staging import staged

    # a separate stage including the planted unsupported file: staged dirs
    # are immutable once installed (no mutate-after-marker races)
    stage = _stage_menu_txt(spark, sf_dir, with_bad=True)
    # three consumers (items parse, ok rollup, fail rollup) — extract once
    extracted = staged(
        spark, sf_dir, "part", "menu_extracted_all",
        lambda: extract_binary_text(
            with_format(read_binary_dir(spark, stage, glob="*.{txt,xyz}"))
        ),
    )
    ok_docs = extracted.filter(F.col("success")).select(
        F.regexp_extract("path", r"([0-9]+)\.txt$", 1).cast("bigint").alias("doc_id"),
        "text",
        "path",
        "extraction_method",
    )
    items = parse_menu_documents(ok_docs.select("doc_id", "text"))
    per_doc = items.groupBy("doc_id").agg(F.count("*").alias("n_items"))
    ok_rollup = (
        ok_docs.join(per_doc, "doc_id", "left")
        .groupBy("extraction_method")
        .agg(
            F.count("*").alias("n_files"),
            F.sum(F.coalesce("n_items", F.lit(0))).alias("n_items"),
        )
        .select("extraction_method", F.lit(True).alias("success"), "n_files", "n_items")
    )
    fail_rollup = (
        extracted.filter(~F.col("success"))
        .groupBy("extraction_method")
        .agg(F.count("*").alias("n_files"))
        .select(
            "extraction_method",
            F.lit(False).alias("success"),
            "n_files",
            F.lit(0).cast("bigint").alias("n_items"),
        )
    )
    return ok_rollup.unionByName(fail_rollup)


@register(
    "menu_parse_subcategories",
    oracle="""
    SELECT p_partkey AS doc_id,
           p_name AS item_name,
           upper(substr(p_type, 1, 1)) || lower(substr(p_type, 2)) AS category,
           CASE WHEN p_partkey % 2 = 0 THEN 'Starters' ELSE 'Mains' END AS subcategory,
           floor(p_retailprice) + 0.25 AS primary_price
    FROM part WHERE p_partkey % 7 = 0
    """,
    category="menu",
)
def menu_parse_subcategories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BetterVersion subcategory extension (prompt_template.py:94-148):
    colon-terminated sub-header lines propagate a subcategory that resets
    at each ALL-CAPS section header. Docs here carry a header, a
    subheader ('Starters:'/'Mains:'), and one item line."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 7 == 0)
    b = F.floor("p_retailprice").cast("double")
    sub = F.when(F.col("p_partkey") % 2 == 0, "Starters:").otherwise("Mains:")
    text = F.concat(
        F.upper("p_type"), F.lit("\n"), sub, F.lit("\n"),
        "p_name", F.lit(" $"), _fmt(b + 0.25),
    )
    docs = p.select(F.col("p_partkey").alias("doc_id"), text.alias("text"))
    items = parse_menu_documents(docs, attach_descriptions=False)
    return items.select("doc_id", "item_name", "category", "subcategory", "primary_price")


@register(
    "menu_document_metadata",
    oracle="""
    SELECT p_partkey AS doc_id,
           1 AS total_items,
           CAST(1 AS BIGINT) AS n_priced,
           CASE WHEN p_partkey % 4 = 2 THEN TRUE ELSE FALSE END AS has_size_variants,
           CASE WHEN p_partkey % 4 = 1 THEN TRUE ELSE FALSE END AS has_half_full,
           '$' AS detected_currency
    FROM part
    """,
    category="menu",
)
def menu_document_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BetterVersion extraction_metadata (prompt_template.py:100-148):
    per-document counts, price-pattern flags, detected currency — one
    doc_id aggregation over the finalized items."""
    from restaurant_etl_spark.operators.menu_parser import document_metadata

    docs = _part_menu_docs(_t(spark, sf_dir, "part"))
    items = parse_menu_documents(docs, attach_descriptions=False)
    meta = document_metadata(items)
    return meta.select(
        "doc_id",
        F.col("total_items").cast("int").alias("total_items"),
        "n_priced",
        "has_size_variants",
        "has_half_full",
        "detected_currency",
    )


@register(
    "menu_preview_head",
    oracle="""
    SELECT p_name AS item_name,
           CAST(NULL AS VARCHAR) AS category,
           '$' || printf('%.2f', floor(p_retailprice) + 0.25) AS price_display
    FROM part
    WHERE p_partkey % 4 = 0
    ORDER BY p_partkey
    LIMIT 15
    """,
    category="menu",
)
def menu_preview_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 — the reference's result preview: first 15 items, 3 projected
    columns (process_menu.py:105-107), deterministic via the doc_id sort
    (L2, dagster_project/assets/menu_assets.py:32). Compiles to
    TakeOrderedAndProject — no global sort."""
    docs = _part_menu_docs(
        _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 4 == 0)
    )
    items = parse_menu_documents(docs, attach_descriptions=False)
    return (
        items.orderBy("doc_id")
        .select("item_name", "category", "price_display")
        .limit(15)
    )


@register(
    "llm_parse_items",
    oracle="""
    WITH m AS (
        SELECT p_partkey AS doc_id, p_partkey % 4 AS mode, p_name AS name,
               floor(p_retailprice) AS b
        FROM part WHERE p_partkey % 5 = 0
    )
    SELECT doc_id,
           name AS item_name,
           CASE mode WHEN 0 THEN b + 0.25 WHEN 3 THEN b + 0.75 END AS price,
           CASE WHEN mode = 1 THEN b + 0.5 END AS half_plate_price,
           CASE WHEN mode = 1 THEN b + 1.0 END AS full_plate_price,
           CASE WHEN mode = 2 THEN b + 1.0 END AS small_price,
           CASE WHEN mode = 2 THEN b + 2.0 END AS medium_price,
           CASE WHEN mode = 2 THEN b + 3.0 END AS large_price,
           '$' AS currency,
           CASE WHEN mode = 3 THEN 'Vegetarian' END AS dietary_tags
    FROM m
    """,
    category="menu",
)
def llm_parse_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1-U3 end-to-end under the correctness gate: the SAME pipeline a real
    LLM deployment runs — normalize → 2000-char chunk explode → mapInPandas
    batched calls with retry/backoff → strict from_json schema gate → item
    explode (llm_parser.py:116-181) — driven by the deterministic
    rule-following transport so the result is closed-form SQL-predictable.
    dietary_tags is flattened to a string (F7) — the driver harness hashes
    scalar columns only."""
    from restaurant_etl_spark.functions.cleaning import flatten_dietary_tags
    from restaurant_etl_spark.operators.llm_parse import (
        deterministic_rule_transport,
        parse_with_llm,
    )

    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 5 == 0)
    docs = _part_menu_docs(p)
    items = parse_with_llm(docs, transport=deterministic_rule_transport)
    return items.select(
        "doc_id",
        "item_name",
        "price",
        "half_plate_price",
        "full_plate_price",
        "small_price",
        "medium_price",
        "large_price",
        "currency",
        flatten_dietary_tags(F.col("dietary_tags")).alias("dietary_tags"),
    )
