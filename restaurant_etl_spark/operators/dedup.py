"""Deduplication operators (SURVEY.md §2B): exact, MinHash+LSH, SimHash,
and exact n-gram Jaccard — the training-data-pipeline dedup family.

Design for 100 TB:
  * exact dedup = hash-groupBy on a content digest (one shuffle on the
    digest key, group sizes bounded by true duplicate multiplicity);
  * MinHash-LSH = per-row signature (narrow) → explode to (band, doc)
    (narrow) → self-join on the band key (shuffle bounded by bucket sizes,
    tunable via bands×rows) → exact-Jaccard verify only on candidates;
  * SimHash = per-row 60-bit signature → band-bucket join, verify by
    Hamming distance (bit_count(xor));
  * all hashing is md5-based so DuckDB oracles replay the exact pipeline.

No MLlib dependency: signatures are higher-order array expressions, fully
inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from restaurant_etl_spark.operators.registry import register
from restaurant_etl_spark.sources.tables import load_table

#: MinHash parameters: 9 hash functions, 3 bands × 3 rows.
#: P(candidate | j) = 1 - (1 - j^3)^3  →  0.98 at j=0.9, 0.003 at j=0.1.
N_HASHES = 9
BAND_ROWS = 3
N_BANDS = N_HASHES // BAND_ROWS

#: The 9 MinHash slots use TRUE one-permutation hashing (OPH) with
#: rotation densification (Shrivastava & Li, "Densifying One Permutation
#: Hashing via Rotation for Sparse Data", ICML 2014): ONE 60-bit md5 per
#: shingle, the hash space split into 9 bins by h % 9, slot i = min hash
#: landing in bin i. Bins are disjoint samples of one permutation, so the
#: slots are unbiased MinHash estimates with the independence the earlier
#: xor-salt family lacked — and the per-shingle cost is lower still (one
#: md5, one modulo; no per-slot mixing at all). Empty bins (possible for
#: short docs: ~(8/9)^n per bin at n shingles) borrow the value of the
#: nearest non-empty bin to the right (circular), offset by delta ×
#: DENSIFY_C so different rotation distances stay distinguishable in band
#: keys. Every doc with ≥1 shingle has ≥1 non-empty bin, so densification
#: always terminates.
#:
#: DENSIFY_C = 2^59: max densified value < 2^60 + 8·2^59 = 5·2^60 ≪ 2^63,
#: so the arithmetic never overflows BIGINT on either engine.
DENSIFY_C = 1 << 59

#: near-dup thresholds
JACCARD_THRESHOLD = 0.8
HAMMING_THRESHOLD = 6

#: document-frequency cap for the exact inverted-index join: shingles seen
#: in more than this many documents are excluded from CANDIDATE GENERATION
#: (never from Jaccard scoring). A stop-shingle shared by 10^6 docs would
#: otherwise create a 10^12-pair posting-list explosion at 100 TB.
MAX_SHINGLE_DF = 1000


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # every consumer does per-token/per-shingle digest work: run it at full
    # width instead of the narrow single-file scan layout
    return fan_out(load_table(spark, sf_dir, "documents"), "doc_id")


from restaurant_etl_spark.session import fan_out


def _toks(text: Column) -> Column:
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def shingle_table(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle): distinct 3-token shingles per document, exploded.
    Delegates to shingle_arrays so the 3-gram definition — the invariant
    every dedup operator and the DuckDB _SHINGLE_SQL replica must agree
    on — exists in exactly one place."""
    return exploded_shingles(shingle_arrays(docs))


def exploded_shingles(sa: DataFrame) -> DataFrame:
    """(doc_id, sharr) → exploded (doc_id, shingle) rows."""
    return sa.select("doc_id", F.explode("sharr").alias("shingle"))


_SHINGLE_SQL = """
        SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
              FROM (SELECT doc_id,
                           list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
                    FROM documents))
"""


def _oph_sig_sql(n_hashes: int = N_HASHES) -> str:
    """DuckDB replica of minhash_signatures: same base md5, same binning,
    same rotation densification — expects a CTE named ``sh`` in scope."""
    mins = ", ".join(
        f"min(CASE WHEN h % {n_hashes} = {i} THEN h END) AS m{i}"
        for i in range(n_hashes)
    )
    dens = ", ".join(
        "coalesce("
        + ", ".join(
            f"m{(i + d) % n_hashes}" + (f" + {d * DENSIFY_C}" if d else "")
            for d in range(n_hashes)
        )
        + f") AS h{i}"
        for i in range(n_hashes)
    )
    return f"""
        SELECT doc_id, {dens} FROM (
            SELECT doc_id, {mins}
            FROM (SELECT doc_id,
                         ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
                  FROM sh)
            GROUP BY doc_id
        )
    """


_SIG_SQL = _oph_sig_sql()


def _candidate_common_counts(sh: DataFrame, df_cap: int = MAX_SHINGLE_DF) -> DataFrame:
    """(doc_a, doc_b, n_common): EXACT common-shingle counts for every
    pair sharing ≥ 1 below-cap shingle (doc_a < doc_b).

    Candidate generation is an inverted-index self-join restricted to
    shingles with document frequency ≤ ``df_cap`` — one hot stop-shingle
    ("of the menu") shared by 10^6 docs would otherwise explode into 10^12
    pairs. Counts stay exact in two parts (r6 rewrite — the previous
    cand-distinct + double re-join against the full shingle table cost
    Σ_pairs |A| ≈ 59M intermediate rows at sf0.1 = 17 s; this costs
    Σ_below-cap df² ≈ 2.8M through ONE shuffle = ~4 s):

      * ``c_rare``: counted DIRECTLY by the capped self-join's group-by —
        no distinct, no re-join;
      * ``c_hot``: above-cap commons, recovered by joining the candidate
        PAIRS (never the hot postings with themselves) against each side's
        hot shingles — fan-out is Σ_pairs |A ∩ hot|, and hot shingles per
        document are few by definition. The hot shingle list itself is
        broadcast (≤ corpus_rows / df_cap entries by construction).

    Equivalence bound vs a fully uncapped computation: a pair is missed
    only if it shares NO below-cap shingle at all — i.e. everything the
    docs have in common is corpus-wide boilerplate, exactly what
    DF-capping is meant to ignore. tests/test_dedup_cap.py plants such a
    stop-shingle and proves capped exclusion + exact counts on survivors."""
    df_tab = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    rare = df_tab.filter(F.col("df") <= df_cap).select("shingle")
    hot = df_tab.filter(F.col("df") > df_cap).select("shingle")

    idx = sh.join(rare, "shingle")
    a = idx.alias("a")
    b = idx.alias("b")
    com_rare = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("c_rare"))
    )

    # the capped self-join aggregation feeds BOTH the correction branch
    # and the final join — materialize it once (pair-count-sized) so the
    # corpus-dominating self-join never executes twice in one plan
    com_rare = com_rare.localCheckpoint()

    hot_sh = sh.join(F.broadcast(hot), "shingle")
    hot_a = hot_sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    hot_b = hot_sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    corr = (
        com_rare.select("doc_a", "doc_b")
        .join(hot_a, "doc_a")
        .join(hot_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c_hot"))
    )
    return com_rare.join(corr, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        (F.col("c_rare") + F.coalesce(F.col("c_hot"), F.lit(0))).alias("n_common"),
    )


def _staged_sa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc shingle-array frame for the documents corpus, staged
    ONCE per corpus per process (VERDICT r10 #7): eight queries eagerly
    localCheckpointed an identical frame per call — at sf10 that staging
    dominated the cold ledger's per-call construction column. Keyed on
    the documents table's file fingerprint, so a rewritten corpus under
    the same path rebuilds (see staging.staged)."""
    from restaurant_etl_spark.sources.staging import staged

    return staged(
        spark, sf_dir, "documents", "shingle_arrays",
        lambda: shingle_arrays(_docs(spark, sf_dir)),
    )


def _staged_common(spark: SparkSession, sf_dir: str, sa: DataFrame) -> DataFrame:
    """DF-capped exact common-shingle counts over the corpus, staged once
    per corpus (VERDICT r10 #7): jaccard, containment, components, the
    recall report and the source-overlap matrix all consume the SAME
    (doc_a, doc_b, n_common) frame — pair-count-sized, the cheapest of
    the shared artifacts to keep."""
    from restaurant_etl_spark.sources.staging import staged

    return staged(
        spark, sf_dir, "documents", "common_counts",
        lambda: _candidate_common_counts(exploded_shingles(sa)),
    )


def _has_rows(df: DataFrame) -> bool:
    """Plan-time non-emptiness probe for staged (already materialized)
    frames — extracted so tests can force the non-empty dispatch arm
    (monkeypatch to ``lambda df: True``)."""
    return not df.isEmpty()


def _sa_sizes(sa: DataFrame, name: str = "n_shingles") -> DataFrame:
    """(doc_id, <name>): per-doc distinct-shingle counts read straight
    off the staged array frame — ``sharr`` is ``array_distinct``'d and
    zero-shingle docs are already dropped (see :func:`shingle_arrays`),
    so ``size(sharr)`` is row-for-row the relation
    ``exploded_shingles(sa).groupBy(doc_id).count()`` used to aggregate
    per execution (r15, guide §2.4: the explode + partial/final
    HashAggregate + Exchange disappear from every consumer's plan)."""
    return sa.select("doc_id", F.size("sharr").alias(name))


def _exact_jaccard_pairs(
    sh: DataFrame, threshold: float, df_cap: int = MAX_SHINGLE_DF,
    common: DataFrame | None = None,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """All pairs sharing ≥1 below-cap shingle, with exact Jaccard ≥
    threshold over the FULL shingle sets (see _candidate_common_counts
    for the candidate/exactness machinery and the equivalence bound).
    ``common`` lets corpus-level callers pass the staged shared
    common-count frame (:func:`_staged_common`); ``sizes`` the
    array-derived per-doc counts (:func:`_sa_sizes`)."""
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    if common is None:
        common = _candidate_common_counts(sh, df_cap)
    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "n_b"), "doc_b")
        .withColumn("jaccard", F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

@register(
    "dedup_exact_documents",
    oracle="""
    WITH h AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))), ' ')) AS vocab_hash
        FROM documents
    )
    SELECT doc_id,
           min(doc_id) OVER (PARTITION BY vocab_hash) AS canonical_id,
           count(*)    OVER (PARTITION BY vocab_hash) AS n_copies,
           doc_id = min(doc_id) OVER (PARTITION BY vocab_hash) AS is_kept
    FROM h
    """,
    category="dedup",
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content digest (bag-of-words hash): every
    doc mapped to the min-doc_id canonical of its digest group. A window on
    the digest key — one shuffle; survivors = is_kept. Deterministic,
    unlike dropDuplicates' arbitrary row choice."""
    d = _docs(spark, sf_dir)
    toks = _toks(F.col("text"))
    h = d.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias("vocab_hash"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("vocab_hash")
    return h.select(
        "doc_id",
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count("*").over(w).alias("n_copies"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_kept"),
    )


# --------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup (ground truth for the LSH variants)
# --------------------------------------------------------------------------

def _capped_com_sql(materialized: bool = False) -> str:
    """Oracle fragment mirroring _candidate_common_counts BY CONSTRUCTION
    (ADVICE r6 #2): candidates must share >= 1 below-DF-cap shingle —
    exactly the Spark path's candidate semantics — with EXACT common
    counts in the same two parts as the Spark r6 rewrite (VERDICT r10
    #2): ``c_rare`` comes straight out of the capped self-join's
    group-by (no pair DISTINCT, no re-join against the full shingle
    table), and ``c_hot`` recovers above-cap commons by joining the
    candidate PAIRS against each side's few hot shingles. The previous
    cand ⋈ sh ⋈ sh form replayed the FULL ~75M-row sf10 shingle table
    through the common-count join and spilled past free disk (>59 GB,
    twice); this form's intermediates are Σ_below-cap df² + Σ_pairs
    |A ∩ hot| — the same bound the Spark plan carries. Value-identical:
    every common shingle is exactly one of below-cap or above-cap, so
    c = c_rare + c_hot partitions the old count.

    Assumes a CTE ``sh(doc_id, shingle)`` is in scope; yields
    ``com(doc_a, doc_b, c)`` (plus internals). ``materialized`` emits
    ``AS MATERIALIZED`` on every multiply-referenced CTE — the r8
    CTE-spill-bomb treatment, now a parameter instead of a fragile
    post-hoc ``str.replace`` on the fragment text (ADVICE r10)."""
    m = "MATERIALIZED " if materialized else ""
    return f"""
    dftab AS {m}(
        SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
    ),
    ridx AS {m}(
        SELECT s.doc_id, s.shingle
        FROM sh s JOIN dftab d ON s.shingle = d.shingle AND d.df <= {MAX_SHINGLE_DF}
    ),
    hotsh AS {m}(
        SELECT s.doc_id, s.shingle
        FROM sh s JOIN dftab d ON s.shingle = d.shingle AND d.df > {MAX_SHINGLE_DF}
    ),
    com_rare AS {m}(
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c_rare
        FROM ridx a JOIN ridx b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    com AS (
        SELECT cr.doc_a, cr.doc_b, cr.c_rare + coalesce(h.c_hot, 0) AS c
        FROM com_rare cr LEFT JOIN (
            SELECT cr2.doc_a, cr2.doc_b, count(*) AS c_hot
            FROM com_rare cr2
            JOIN hotsh x ON x.doc_id = cr2.doc_a
            JOIN hotsh y ON y.doc_id = cr2.doc_b AND y.shingle = x.shingle
            GROUP BY 1, 2
        ) h ON cr.doc_a = h.doc_a AND cr.doc_b = h.doc_b
    )"""


@register(
    "dedup_ngram_jaccard",
    # sh is multiply referenced (sz, dftab, ridx, hotsh): unmaterialized,
    # DuckDB re-inlines the shingle generation per reference — fine at
    # sf1 (~7.5M shingle rows) but a >40 GB spill that ENOSPC'd the sf10
    # fingerprint attempt (r10). materialized=True evaluates each once;
    # same rows, same hashes (the r8 CTE-spill-bomb treatment).
    oracle=f"""
    WITH sh AS MATERIALIZED ({_SHINGLE_SQL}),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    {_capped_com_sql(materialized=True)}
    SELECT doc_a, doc_b, round(c / (x.n + y.n - c), 4) AS jaccard
    FROM com JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
    WHERE c / (x.n + y.n - c) >= {JACCARD_THRESHOLD}
    """,
    category="dedup",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-duplicate pairs (≥ 0.8) via a DF-capped
    inverted-index self-join — no quadratic all-pairs comparison, and no
    hot-shingle posting-list explosion. The oracle encodes the SAME
    DF-capped candidate generation (_capped_com_sql), so both engines
    share candidate semantics by construction rather than by the
    equivalence-bound argument alone (ADVICE r6 #2)."""
    sa = _staged_sa(spark, sf_dir)
    return _exact_jaccard_pairs(
        exploded_shingles(sa), JACCARD_THRESHOLD,
        common=_staged_common(spark, sf_dir, sa),
        sizes=_sa_sizes(sa),
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def shingle_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, sharr): each doc's distinct 3-token shingles as an ARRAY
    column — the narrow (no-explode, no-shuffle) sibling of shingle_table
    for per-doc signature computation. Docs too short for one shingle
    (< 3 tokens) are dropped, matching the exploded table's semantics
    (they produce zero rows there).

    The short-doc gate is written as ``size(toks) >= 3`` — equivalent to
    ``size(sharr) > 0`` since a doc has a shingle iff it has ≥ 3 tokens —
    and NOT as a filter on ``sharr``: a post-hoc sharr filter gets
    predicate-pushed below the fan_out Exchange into the single-task scan
    stage with the whole shingle derivation (and its 4 tokenizer
    references) inlined, serializing the operator's dominant cost onto
    one core. The token-count predicate pushes down too, but inlines only
    one cheap split per row; the shingle transform stays post-Exchange at
    full width."""
    t = docs.select("doc_id", _toks(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 3
    )
    toks = F.col("toks")
    shingles = F.transform(
        F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(0))),
        lambda x, i: F.concat_ws(" ", x, F.element_at(toks, i + 2), F.element_at(toks, i + 3)),
    )
    return t.select("doc_id", F.array_distinct(shingles).alias("sharr"))


def minhash_signatures(docs: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, sig array<bigint>): per-doc one-permutation MinHash
    signature. Slot i = min over the doc's shingles of h60(shingle) where
    h60 % n_hashes == i (h60 = first 60 bits of one md5 per shingle);
    empty slots are densified by circular rotation with a per-step
    DENSIFY_C offset.

    Computed entirely PER ROW over the shingle array — a narrow map with
    NO shuffle (the r4 xor-salt family had this shape; the OPH rewrite
    initially lost it to a groupBy over the exploded shingle table, which
    re-shuffled the corpus-dominating intermediate and measured ~2x slower
    at sf0.1)."""
    return signatures_from_shingle_arrays(shingle_arrays(docs), n_hashes)


def signatures_from_shingle_arrays(
    t: DataFrame, n_hashes: int = N_HASHES
) -> DataFrame:
    """OPH signatures from a prebuilt (doc_id, sharr) frame — callers that
    consume the shingle arrays more than once (signature + verify + sizes)
    build the frame once, localCheckpoint it, and share it. The ``hs``
    array is materialized as its own projection so Catalyst keeps the
    one-md5-per-shingle evaluation shared across the n_hashes slot
    filters instead of inlining it n_hashes times."""
    hs = F.transform(
        F.col("sharr"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
    )
    t = t.select("doc_id", hs.alias("hs"))
    mins = [
        F.array_min(F.filter(F.col("hs"), lambda h: h % n_hashes == i)).alias(f"m{i}")
        for i in range(n_hashes)
    ]
    raw = t.select("doc_id", *mins)
    dens = [
        F.coalesce(
            *[
                F.col(f"m{(i + d) % n_hashes}") + F.lit(d * DENSIFY_C)
                if d
                else F.col(f"m{i}")
                for d in range(n_hashes)
            ]
        ).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    sig = raw.select("doc_id", *dens)
    return sig.select("doc_id", F.array(*[f"h{i}" for i in range(n_hashes)]).alias("sig"))


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sig AS ({_SIG_SQL}),
    bands AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {k} AS band_idx, "
            f"h{3*k}::VARCHAR || '|' || h{3*k+1}::VARCHAR || '|' || h{3*k+2}::VARCHAR AS band FROM sig"
            for k in range(N_BANDS)
        )}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    com AS (
        SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, count(*) AS c
        FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
        JOIN cand ON s1.doc_id = cand.doc_a AND s2.doc_id = cand.doc_b
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, round(c / (x.n + y.n - c), 4) AS jaccard
    FROM com JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
    WHERE c / (x.n + y.n - c) >= {JACCARD_THRESHOLD}
    """,
    category="dedup",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs: shingle → 9-slot one-permutation
    MinHash signature (rotation-densified) →
    3 bands × 3 rows → band-bucket self-join for candidates → exact-Jaccard
    verify (≥ 0.8) on candidates only.

    Scale: the only quadratic risk is band-bucket size; 3-row bands put
    P(collision) at j³ per band, so buckets stay tiny unless docs really
    are near-dups. Candidate verification touches candidates' shingles
    only (semi-join pushes the pair filter into the inverted index)."""
    # the shingle derivation feeds four consumers (signatures, both verify
    # sides, sizes). Materialize the per-doc ARRAY form once per CORPUS
    # (staged localCheckpoint — the index-build step, same pattern as the
    # IVF inverted file): the array frame is ~the corpus size (not the
    # ~100x exploded table), every consumer then derives from it — explode
    # for the verify joins, size() for n_shingles, per-row OPH for
    # signatures — instead of re-running tokenize+shingle four times.
    sa = _staged_sa(spark, sf_dir)
    return _minhash_pairs(sa)


def _minhash_pairs(sa: DataFrame) -> DataFrame:
    """LSH candidate generation + exact-Jaccard verify from a prebuilt
    (and typically localCheckpointed) shingle-array frame — shared by
    dedup_minhash_lsh and the recall report (which materializes ONE frame
    for both its pipelines instead of two identical eager checkpoints)."""
    sh = exploded_shingles(sa)
    sig = signatures_from_shingle_arrays(sa)

    band_cols = [
        F.concat_ws(
            "|", *[F.element_at("sig", 3 * k + r + 1).cast("string") for r in range(BAND_ROWS)]
        ).alias(f"b{k}")
        for k in range(N_BANDS)
    ]
    bands = sig.select("doc_id", F.posexplode(F.array(*band_cols)).alias("band_idx", "band"))

    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    # verify candidates with exact Jaccard, touching only candidate PAIRS:
    # cand ⋈ shingles(doc_a) ⋈ shingles(doc_b, same shingle) — never the
    # full inverted-index pair space
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    # n_shingles is per-row array arithmetic off the materialized arrays —
    # no aggregation over the exploded table needed
    sizes = sa.select("doc_id", F.size("sharr").alias("n_shingles"))
    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "n_b"), "doc_b")
        .withColumn("jaccard", F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 4))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

#: 60-bit token hash: first 15 hex digits of md5 (fits BIGINT, portable).
#: Tokens are hashed ONCE into an `hs` array column; the 60-bit vote loop
#: then runs over cheap shifts. The `size(hs) >= 0` guard is a deliberate
#: second reference so CollapseProject keeps `hs` materialized instead of
#: inlining the md5 transform into the bit lambda (inlined, it would
#: re-hash every token 60 times — the same Catalyst pitfall documented on
#: shingle_table).
_SPARK_TOKEN_HASHES = (
    "transform(toks, t -> CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT))"
)

_SPARK_SIMHASH = """
IF(size(hs) >= 0,
  aggregate(
    sequence(0, 59), 0L,
    (acc, b) -> acc + IF(
        aggregate(hs, 0, (s, hv) -> s + CAST(((shiftright(hv, b)) & 1) * 2 - 1 AS INT)) > 0,
        shiftleft(1L, 59 - b), 0L)),
  0L)
"""

_DUCK_SIMHASH = """
CAST(list_sum(list_transform(range(0, 60), b -> CASE WHEN
    list_sum(list_transform(hs, hv -> ((hv >> b) & 1) * 2 - 1)) > 0
    THEN (1::BIGINT << (59 - b)) ELSE 0 END)) AS BIGINT)
"""


def _simhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash, band_idx, band): per-doc 60-bit SimHash split into
    4×15-bit bands for blocking."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.array_distinct(_toks(F.col("text"))).alias("toks")
    )
    dh = d.select("doc_id", F.expr(_SPARK_TOKEN_HASHES).alias("hs"))
    s = dh.select("doc_id", F.expr(_SPARK_SIMHASH).alias("simhash"))
    return s.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[
                F.shiftright("simhash", 15 * k).bitwiseAND(F.lit(32767)).alias(f"b{k}")
                for k in range(4)
            ])
        ).alias("band_idx", "band"),
    )


@register(
    "dedup_simhash",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS toks
        FROM documents
    ),
    dh AS (
        SELECT doc_id,
               list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
        FROM d
    ),
    s AS (SELECT doc_id, {_DUCK_SIMHASH} AS simhash FROM dh),
    bands AS (
        SELECT doc_id, simhash, unnest(range(0, 4)) AS band_idx,
               (simhash >> (CAST(unnest(range(0, 4)) AS INTEGER) * 15)) & 32767 AS band
        FROM s
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sim_a, b.simhash AS sim_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(sim_a, sim_b)) <= {HAMMING_THRESHOLD}
    """,
    category="dedup",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: per-doc 60-bit signature over distinct tokens
    (sign of per-bit vote), 4×15-bit band blocking, Hamming ≤ 6 verify.
    Signature is one narrow higher-order expression; the join is bounded by
    band-bucket sizes."""
    bands = _simhash_bands(spark, sf_dir)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
    )


# --------------------------------------------------------------------------
# Scale-shaped outputs: keep-lists and duplicate clusters
# --------------------------------------------------------------------------

@register(
    "dedup_simhash_keep",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS toks
        FROM documents
    ),
    dh AS (
        SELECT doc_id,
               list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
        FROM d
    ),
    s AS (SELECT doc_id,
    CAST(list_sum(list_transform(range(0, 60), b -> CASE WHEN
        list_sum(list_transform(hs, hv -> ((hv >> b) & 1) * 2 - 1)) > 0
        THEN (1::BIGINT << (59 - b)) ELSE 0 END)) AS BIGINT)
    AS simhash FROM dh),
    bands AS (
        SELECT doc_id, unnest(range(0, 4)) AS band_idx,
               (simhash >> (CAST(unnest(range(0, 4)) AS INTEGER) * 15)) & 32767 AS band
        FROM s
    ),
    bmin AS (SELECT band_idx, band, min(doc_id) AS bucket_min FROM bands GROUP BY 1, 2)
    SELECT b.doc_id,
           min(m.bucket_min) AS canonical_id,
           min(m.bucket_min) = b.doc_id AS is_kept
    FROM bands b JOIN bmin m ON b.band_idx = m.band_idx AND b.band = m.band
    GROUP BY b.doc_id
    """,
    category="dedup",
)
def dedup_simhash_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-shaped SimHash dedup: instead of emitting every near-dup
    PAIR (O(cluster²) rows — `dedup_simhash` is the exact-pairs baseline),
    map each doc to the min doc_id sharing any of its 4 LSH buckets and emit
    one keep/drop row per document. Two key-partitioned aggregations, output
    linear in the corpus. Single-pass (one-hop) canonicalization: a doc's
    canonical may itself be dropped in favor of a smaller id — the
    transitive closure is `dedup_components`' job."""
    bands = _simhash_bands(spark, sf_dir).select("doc_id", "band_idx", "band")
    bmin = bands.groupBy("band_idx", "band").agg(F.min("doc_id").alias("bucket_min"))
    return (
        bands.join(bmin, ["band_idx", "band"])
        .groupBy("doc_id")
        .agg(
            F.min("bucket_min").alias("canonical_id"),
            (F.min("bucket_min") == F.first("doc_id")).alias("is_kept"),
        )
    )


@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE
    sh AS ({_SHINGLE_SQL}),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    com AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM com JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
        WHERE c / (x.n + y.n - c) >= {JACCARD_THRESHOLD}
    ),
    e AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    r AS (
        SELECT doc_id, doc_id AS reach FROM documents
        UNION
        SELECT r.doc_id, e.dst FROM r JOIN e ON r.reach = e.src
    ),
    comp AS (SELECT doc_id, min(reach) AS component_id FROM r GROUP BY doc_id)
    SELECT doc_id, component_id,
           count(*) OVER (PARTITION BY component_id) AS cluster_size,
           doc_id = component_id AS is_canonical
    FROM comp
    """,
    category="dedup",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-duplicate CLUSTERS: connected components over the
    exact-Jaccard pair graph via Hash-Min label propagation — each round
    every node adopts the minimum component label among itself and its
    neighbors, converging in O(graph diameter) rounds. The iterative
    fixpoint is genuinely beyond single-pass SQL; the oracle replays it
    with a recursive CTE, so even this is value-checked.

    Scale: each round is one shuffle join on doc_id + one aggregation —
    the standard large-graph CC pattern (no GraphX dependency).
    localCheckpoint() truncates the doubling lineage each round, and the
    driver-side convergence test reads a single scalar per round. Near-dup
    graphs have tiny diameters (dup clusters are dense), so rounds ≈ 3-4."""
    docs = _docs(spark, sf_dir).select("doc_id")
    sa = _staged_sa(spark, sf_dir)
    pairs = _exact_jaccard_pairs(
        exploded_shingles(sa), JACCARD_THRESHOLD,
        common=_staged_common(spark, sf_dir, sa),
        sizes=_sa_sizes(sa),
    )
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint()
    )

    labels = docs.select("doc_id", F.col("doc_id").alias("comp")).localCheckpoint()
    while True:
        prop = (
            edges.join(labels, edges["src"] == labels["doc_id"])
            .groupBy("dst")
            .agg(F.min("comp").alias("ncomp"))
        )
        merged = labels.join(prop, labels["doc_id"] == prop["dst"], "left").select(
            labels["doc_id"],
            labels["comp"].alias("old"),
            F.least(labels["comp"], F.coalesce(F.col("ncomp"), labels["comp"])).alias("comp"),
        )
        merged = merged.localCheckpoint()
        changed = merged.filter(F.col("comp") != F.col("old")).count()
        labels = merged.select("doc_id", "comp")
        if changed == 0:
            break

    from pyspark.sql.window import Window

    w = Window.partitionBy("component_id")
    return labels.select(
        "doc_id",
        F.col("comp").alias("component_id"),
    ).select(
        "doc_id",
        "component_id",
        F.count("*").over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("component_id")).alias("is_canonical"),
    )


@register(
    "dedup_levenshtein_blocked",
    oracle="""
    WITH d AS (
        SELECT doc_id, text,
               array_to_string(
                   (list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))[1:3],
                   ' ') AS blk
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.text, b.text) AS lev,
           round(levenshtein(a.text, b.text)
                 / greatest(length(a.text), length(b.text)), 4) AS rel_dist
    FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.text, b.text)
          <= 0.1 * greatest(length(a.text), length(b.text))
    """,
    category="dedup",
)
def dedup_levenshtein_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs via blocking join (SURVEY §2B's
    "levenshtein + blocking" alternative to shingle methods): candidates
    share their first-3-token block key (one shuffle), then exact
    levenshtein ≤ 10% of the longer text verifies. Levenshtein is O(len²)
    per pair — the blocking keeps it off all-pairs; a production corpus
    would also cap block sizes the way _exact_jaccard_pairs caps posting
    lists (a boilerplate prefix is the same hot-key risk)."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "text",
        F.array_join(F.slice(_toks(F.col("text")), 1, 3), " ").alias("blk"),
    )
    a = d.alias("a")
    b = d.alias("b")
    lev = F.levenshtein(F.col("a.text"), F.col("b.text"))
    mx = F.greatest(F.length("a.text"), F.length("b.text"))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .filter(lev <= 0.1 * mx)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            lev.alias("lev"),
            F.round(lev / mx, 4).alias("rel_dist"),
        )
    )


@register(
    "dedup_minhash_keep",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sig AS ({_SIG_SQL}),
    bands AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {k} AS band_idx, "
            f"h{3*k}::VARCHAR || '|' || h{3*k+1}::VARCHAR || '|' || h{3*k+2}::VARCHAR AS band FROM sig"
            for k in range(N_BANDS)
        )}
    ),
    bmin AS (SELECT band_idx, band, min(doc_id) AS bucket_min FROM bands GROUP BY 1, 2)
    SELECT b.doc_id,
           min(m.bucket_min) AS canonical_id,
           min(m.bucket_min) = b.doc_id AS is_kept
    FROM bands b JOIN bmin m ON b.band_idx = m.band_idx AND b.band = m.band
    GROUP BY b.doc_id
    """,
    category="dedup",
)
def dedup_minhash_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH keep-list (the scale-shaped sibling of dedup_minhash_lsh,
    mirroring dedup_simhash_keep): one keep/drop row per document via the
    min doc_id over its 3 band buckets. Same signature pipeline as the
    pair query, two key-partitioned aggregations, linear output — the form
    a 100 TB shingle-based dedup actually ships to the corpus filter."""
    sig = minhash_signatures(_docs(spark, sf_dir))
    band_cols = [
        F.concat_ws(
            "|", *[F.element_at("sig", 3 * k + r + 1).cast("string") for r in range(BAND_ROWS)]
        ).alias(f"b{k}")
        for k in range(N_BANDS)
    ]
    bands = sig.select("doc_id", F.posexplode(F.array(*band_cols)).alias("band_idx", "band"))
    bmin = bands.groupBy("band_idx", "band").agg(F.min("doc_id").alias("bucket_min"))
    return (
        bands.join(bmin, ["band_idx", "band"])
        .groupBy("doc_id")
        .agg(
            F.min("bucket_min").alias("canonical_id"),
            (F.min("bucket_min") == F.first("doc_id")).alias("is_kept"),
        )
    )


# --------------------------------------------------------------------------
# Benchmark decontamination — the training-pipeline step that finds train
# documents overlapping a held-out evaluation set (n-gram contamination).
# --------------------------------------------------------------------------

#: minimum number of distinct shared shingles before a train doc counts as
#: contaminated by a benchmark doc (1-2 shared 3-grams is noise).
MIN_CONTAMINATION_OVERLAP = 3
#: every 50th doc_id plays the held-out benchmark set in the synthetic corpus
BENCH_MOD = 50


@register(
    "decontamination_overlap",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    rare AS (
        SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {MAX_SHINGLE_DF}
    ),
    idx AS (SELECT doc_id, sh.shingle FROM sh JOIN rare ON sh.shingle = rare.shingle),
    bench AS (SELECT doc_id AS bench_id, shingle FROM idx WHERE doc_id % {BENCH_MOD} = 0),
    train AS (SELECT doc_id, shingle FROM idx WHERE doc_id % {BENCH_MOD} <> 0),
    ov AS (
        SELECT t.doc_id, b.bench_id, count(*) AS shared
        FROM train t JOIN bench b ON t.shingle = b.shingle
        GROUP BY t.doc_id, b.bench_id
        HAVING count(*) >= {MIN_CONTAMINATION_OVERLAP}
    )
    SELECT doc_id, bench_id AS matched_bench_id, shared AS shared_shingles,
           CAST(n_bench_matches AS INTEGER) AS n_bench_matches
    FROM (
        SELECT doc_id, bench_id, shared,
               count(*) OVER (PARTITION BY doc_id) AS n_bench_matches,
               row_number() OVER (PARTITION BY doc_id ORDER BY shared DESC, bench_id) AS rn
        FROM ov) t
    WHERE rn = 1
    """,
    category="dedup",
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train documents sharing ≥3 distinct
    3-token shingles with any held-out benchmark doc (doc_id % 50 == 0
    plays the eval set), reported one row per contaminated train doc with
    its strongest benchmark match and how many benchmark docs it touches.

    Scale shape: the join is an inverted-index TRAIN ⋈ BENCH on shingle.
    The join strategy is left to AQE: with a REAL eval suite (bounded,
    a few thousand docs) it broadcasts; in this synthetic setup the bench
    side is a modeled 2% of the corpus, so forcing a broadcast would be a
    scale bug — AQE picks a shuffle join when the side outgrows the
    threshold. The DF cap (MAX_SHINGLE_DF) keeps stop-shingle posting
    lists from exploding candidate pairs, same contract as
    dedup_ngram_jaccard. Output is linear in contaminated docs."""
    # the shingle rows feed three consumers (DF counts, bench side, train
    # side): materialize the per-doc arrays once, like every other
    # multi-consumer dedup pipeline — deriving them per-consumer re-ran
    # the tokenizer in all four scan subtrees (0.6 s → 8 s at sf0.1)
    sa = _staged_sa(spark, sf_dir)

    # the DF-capped posting index (shingle → doc postings for below-cap
    # shingles) is the PRE-BUILT artifact this query models — production
    # decontamination indexes the corpus + eval suites once and re-checks
    # per ingest. Staged per corpus (r15, same convention as com_rare /
    # common_counts, VERDICT r10 #7): the old lazy plan re-ran the full
    # explode + DF aggregation + postings join TWICE per execution (the
    # bench and train branches each re-evaluated the idx subtree).
    def _build_idx() -> DataFrame:
        sh = exploded_shingles(sa)
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= MAX_SHINGLE_DF)
            .select("shingle")
        )
        return sh.join(rare, "shingle")

    from restaurant_etl_spark.sources.staging import staged

    idx = staged(spark, sf_dir, "documents", "decon_capped_postings", _build_idx)
    bench = idx.filter(F.col("doc_id") % BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    train = idx.filter(F.col("doc_id") % BENCH_MOD != 0)
    ov = (
        train.join(bench, "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= MIN_CONTAMINATION_OVERLAP)
    )
    # best-match per doc as max(struct(shared, -bench_id)) — exactly the
    # (shared DESC, bench_id ASC) row_number pick, but as a partial+final
    # HashAggregate instead of Exchange + two Sorts + two Window passes
    # (r15, guide §2.3 "aggregate before you shuffle": the partial agg
    # collapses to one row per doc_id map-side, and no sort runs at all;
    # integer comparisons, so the pick is deterministic and the hash
    # can't move).
    best = F.max(F.struct(F.col("shared"), (-F.col("bench_id")).alias("nb")))
    return ov.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_bench_matches"),
        best.alias("best"),
    ).select(
        "doc_id",
        (-F.col("best.nb")).alias("matched_bench_id"),
        F.col("best.shared").alias("shared_shingles"),
        "n_bench_matches",
    )


def _registered_oracle(name: str) -> str:
    from restaurant_etl_spark.operators.registry import REGISTRY

    return REGISTRY[name].oracle


@register(
    "dedup_minhash_recall_report",
    oracle=f"""
    -- MATERIALIZED + count-once structure: each pair CTE is expensive
    -- (exact shingle self-join) and referenced repeatedly; letting the
    -- optimizer inline them re-evaluates the join per reference, which
    -- at sf1 multiplied DuckDB's spill past the disk. Values unchanged.
    WITH exact_pairs AS MATERIALIZED ({_registered_oracle("dedup_ngram_jaccard")}),
    lsh_pairs AS MATERIALIZED ({_registered_oracle("dedup_minhash_lsh")}),
    ne AS (SELECT count(*) AS c FROM exact_pairs),
    nl AS (SELECT count(*) AS c FROM lsh_pairs),
    hits AS (SELECT count(*) AS c FROM lsh_pairs l
             JOIN exact_pairs e ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b)
    SELECT
        CAST(ne.c AS BIGINT) AS n_exact,
        CAST(nl.c AS BIGINT) AS n_lsh,
        round(hits.c * 1.0 / greatest(ne.c, 1), 4) AS recall,
        round(hits.c * 1.0 / greatest(nl.c, 1), 4) AS precision
    FROM ne, nl, hits
    """,
    category="dedup",
)
def dedup_minhash_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-family quality report (sibling of similarity_ann_recall_report):
    MinHash-LSH pairs measured against the exact inverted-index n-gram
    Jaccard pairs as ground truth — one row of (n_exact, n_lsh, recall,
    precision). Both pipelines verify candidates with exact Jaccard ≥ 0.8,
    so precision should be 1.0 and recall isolates exactly what 3×3
    banding loses at the 0.8 threshold (the signature slots are unbiased
    disjoint samples of one permutation — densified OPH — so the s-curve
    is the textbook 1-(1-j³)³). Driver-visible: the banding quality claim
    is a measured artifact, not a docstring assertion."""
    sa = _staged_sa(spark, sf_dir)
    exact = _exact_jaccard_pairs(
        exploded_shingles(sa), JACCARD_THRESHOLD,
        common=_staged_common(spark, sf_dir, sa),
        sizes=_sa_sizes(sa),
    ).select(
        "doc_a", "doc_b"
    )
    lsh = _minhash_pairs(sa).select("doc_a", "doc_b")
    hit = lsh.join(exact, ["doc_a", "doc_b"], "left_semi")
    return (
        exact.agg(F.count("*").alias("n_exact"))
        .crossJoin(lsh.agg(F.count("*").alias("n_lsh")))
        .crossJoin(hit.agg(F.count("*").alias("n_hit")))
        .select(
            "n_exact",
            "n_lsh",
            F.round(F.col("n_hit") / F.greatest(F.col("n_exact"), F.lit(1)), 4).alias("recall"),
            F.round(F.col("n_hit") / F.greatest(F.col("n_lsh"), F.lit(1)), 4).alias("precision"),
        )
    )


# --------------------------------------------------------------------------
# Containment (asymmetric near-dup): short-doc-inside-long-doc
# --------------------------------------------------------------------------

#: containment threshold and the minimum shingle count that makes the
#: ratio meaningful (a 1-shingle doc is "contained" in anything that
#: shares its one shingle)
CONTAINMENT_THRESHOLD = 0.9
MIN_CONTAIN_SHINGLES = 5


@register(
    "dedup_containment",
    oracle=f"""
    WITH sh AS MATERIALIZED ({_SHINGLE_SQL}),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    {_capped_com_sql(materialized=True)},
    directed AS (
        SELECT doc_a AS contained_doc, doc_b AS container_doc, c,
               x.n AS n_contained
        FROM com JOIN sz x ON doc_a = x.doc_id
        UNION ALL
        SELECT doc_b AS contained_doc, doc_a AS container_doc, c,
               y.n AS n_contained
        FROM com JOIN sz y ON doc_b = y.doc_id
    )
    SELECT contained_doc, container_doc,
           CAST(n_contained AS BIGINT) AS n_contained,
           CAST(c AS BIGINT) AS n_common,
           round(c * 1.0 / n_contained, 4) AS containment
    FROM directed
    WHERE n_contained >= {MIN_CONTAIN_SHINGLES}
      AND c * 1.0 / n_contained >= {CONTAINMENT_THRESHOLD}
    """,
    category="dedup",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-duplicate detection by shingle CONTAINMENT,
    C(A→B) = |A∩B| / |A| — the Broder containment measure. Jaccard misses
    a short document embedded verbatim in a much longer one (|A∩B| /
    |A∪B| shrinks with the container's size); containment is the standard
    training-corpus guard against excerpt/quote duplication and
    subset-document leakage. Emits every ordered pair with C ≥ 0.9 where
    the contained side has >= MIN_CONTAIN_SHINGLES (5) shingles.

    Scale shape: identical to the exact-Jaccard path — DF-capped
    inverted-index candidate generation (no all-pairs, no hot-shingle
    posting-list explosion), common-shingle counts computed once per
    unordered pair against the uncapped table, then the two directed
    rows derive from the same count by dividing by each side's size. One
    extra projection over dedup_ngram_jaccard's plan — no extra join or
    shuffle. The oracle encodes the SAME capped candidate generation
    (_capped_com_sql): for containment the Jaccard equivalence-bound
    argument is genuinely weaker (a 5-shingle doc of pure boilerplate
    contained in a bigger doc would otherwise appear oracle-side only),
    so candidate semantics are shared by construction (ADVICE r6 #2)."""
    sa = _staged_sa(spark, sf_dir)
    sizes = _sa_sizes(sa, "n")
    com = _staged_common(spark, sf_dir, sa).withColumnRenamed("n_common", "c")
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    paired = com.join(sz_a, "doc_a").join(sz_b, "doc_b")
    directed = paired.select(
        F.expr(
            "stack(2, doc_a, doc_b, n_a, doc_b, doc_a, n_b) "
            "AS (contained_doc, container_doc, n_contained)"
        ),
        "c",
    )
    return directed.filter(
        (F.col("n_contained") >= MIN_CONTAIN_SHINGLES)
        & (F.col("c") / F.col("n_contained") >= CONTAINMENT_THRESHOLD)
    ).select(
        "contained_doc",
        "container_doc",
        "n_contained",
        F.col("c").alias("n_common"),
        F.round(F.col("c") / F.col("n_contained"), 4).alias("containment"),
    )


# --------------------------------------------------------------------------
# Incremental dedup: new batch vs an already-indexed corpus
# --------------------------------------------------------------------------

#: deterministic batch selector: every 10th doc is "the new ingest batch",
#: the rest are "the already-indexed corpus"
BATCH_MOD = 10
BATCH_REMAINDER = 9


@register(
    "dedup_incremental_batch",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    corpus AS (SELECT * FROM sh WHERE doc_id % {BATCH_MOD} <> {BATCH_REMAINDER}),
    batch  AS (SELECT * FROM sh WHERE doc_id % {BATCH_MOD} = {BATCH_REMAINDER}),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    rare AS (
        SELECT shingle FROM corpus GROUP BY shingle
        HAVING count(*) <= {MAX_SHINGLE_DF}
    ),
    cand AS (
        SELECT DISTINCT b.doc_id AS new_doc, c.doc_id AS index_doc
        FROM batch b
        JOIN (SELECT * FROM corpus WHERE shingle IN (SELECT shingle FROM rare)) c
          ON b.shingle = c.shingle
    ),
    com AS (
        SELECT cand.new_doc, cand.index_doc, count(*) AS c
        FROM cand
        JOIN sh a ON a.doc_id = cand.new_doc
        JOIN sh b ON b.doc_id = cand.index_doc AND b.shingle = a.shingle
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT com.new_doc, com.index_doc,
               round(c * 1.0 / (x.n + y.n - c), 4) AS jaccard
        FROM com JOIN sz x ON com.new_doc = x.doc_id
                 JOIN sz y ON com.index_doc = y.doc_id
        WHERE c * 1.0 / (x.n + y.n - c) >= {JACCARD_THRESHOLD}
    ),
    best AS (
        SELECT new_doc, index_doc AS best_match, jaccard AS best_jaccard
        FROM (SELECT *, row_number() OVER (PARTITION BY new_doc
                  ORDER BY jaccard DESC, index_doc) AS rn FROM scored) t
        WHERE rn = 1
    )
    SELECT b.doc_id AS new_doc,
           best.best_match,
           best.best_jaccard,
           best.new_doc IS NULL AS is_new
    FROM (SELECT DISTINCT doc_id FROM batch) b
    LEFT JOIN best ON b.doc_id = best.new_doc
    """,
    category="dedup",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup: a NEW batch (every 10th doc) is checked
    against the ALREADY-INDEXED corpus (the other 9/10) — each new doc
    gets its best near-dup match in the index (exact Jaccard ≥ 0.8) or
    ``is_new = true``. This is the production dedup shape at 100 TB: the
    corpus's DF-capped shingle postings are a PRE-BUILT index (bucketed
    by shingle on disk), the batch is small, and each ingest cycle costs
    O(batch shingles × bucket size) — the corpus is never self-joined
    again after its initial build.

    Candidates come from batch ⋈ capped-corpus postings only (the cap is
    computed over CORPUS document frequency — batch content can't evict
    an index shingle); scoring is exact Jaccard over the uncapped shingle
    sets, same equivalence bound as _exact_jaccard_pairs. Batch docs too
    short to have a shingle don't appear (they have no dedup signal)."""
    sa = _staged_sa(spark, sf_dir)
    sh = exploded_shingles(sa)
    is_batch = F.col("doc_id") % BATCH_MOD == BATCH_REMAINDER
    corpus = sh.filter(~is_batch)
    batch = sh.filter(is_batch)
    sizes = _sa_sizes(sa, "n")

    # same two-part exact-count scheme as _candidate_common_counts, with
    # the DF cap computed over CORPUS frequency only: below-cap commons
    # counted directly by the batch ⋈ capped-index join's group-by,
    # above-cap commons recovered pair-driven via the (broadcast) hot list
    def _df_tab() -> DataFrame:
        return corpus.groupBy("shingle").agg(F.count("*").alias("df"))

    def _build_com_rare() -> DataFrame:
        rare = _df_tab().filter(F.col("df") <= MAX_SHINGLE_DF).select("shingle")
        return (
            batch.withColumnRenamed("doc_id", "new_doc")
            .join(
                corpus.join(rare, "shingle").withColumnRenamed("doc_id", "index_doc"),
                "shingle",
            )
            .groupBy("new_doc", "index_doc")
            .agg(F.count("*").alias("c_rare"))
        )

    # com_rare feeds both the correction branch and the final join —
    # materialize once per CORPUS (staged, VERDICT r10 #7: this was the
    # query's 27 s per-call residual in the sf10 cold ledger after the
    # shingle staging landed; the batch ⋈ capped-index join is exactly
    # the pre-built-index artifact the docstring describes, so it is
    # keyed on the documents fingerprint like the index it models).
    # r15: the hot stop-shingle list and the corpus-side hot postings are
    # the index's OTHER half — the same pre-built artifact — and re-deriving
    # them per execution re-ran the full corpus explode + DF aggregation
    # twice per run; staged under the same key family.
    from restaurant_etl_spark.sources.staging import staged

    com_rare = staged(
        spark, sf_dir, "documents", "incremental_com_rare", _build_com_rare
    )
    hot = staged(
        spark, sf_dir, "documents", "incremental_hot_shingles",
        lambda: _df_tab().filter(F.col("df") > MAX_SHINGLE_DF).select("shingle"),
    )
    # corpus-adaptive dispatch (r15, same plan-time pattern as the
    # keep-list verify arm): when the staged hot list is EMPTY the whole
    # correction branch provably contributes nothing (corr is empty, so
    # every coalesce(c_hot, 0) is 0 and c = c_rare) — skip its two joins,
    # three exchanges and aggregation instead of executing them against
    # zero rows every run. With hot shingles present the full two-part
    # exact count runs unchanged; both paths are value-identical by
    # construction, so the dispatch can never move a hash (pinned by
    # tests/test_dedup_cap.py::test_incremental_corr_dispatch_arm_identity).
    if not _has_rows(hot):
        com = com_rare.select(
            "new_doc", "index_doc", F.col("c_rare").alias("c")
        )
    else:
        hot_corpus = staged(
            spark, sf_dir, "documents", "incremental_hot_corpus",
            lambda: corpus.join(F.broadcast(hot), "shingle").select(
                F.col("doc_id").alias("index_doc"), "shingle"
            ),
        )
        hot_batch = batch.join(F.broadcast(hot), "shingle").select(
            F.col("doc_id").alias("new_doc"), "shingle"
        )
        corr = (
            com_rare.select("new_doc", "index_doc")
            .join(hot_batch, "new_doc")
            .join(hot_corpus, ["index_doc", "shingle"])
            .groupBy("new_doc", "index_doc")
            .agg(F.count("*").alias("c_hot"))
        )
        com = com_rare.join(corr, ["new_doc", "index_doc"], "left").select(
            "new_doc",
            "index_doc",
            (F.col("c_rare") + F.coalesce(F.col("c_hot"), F.lit(0))).alias("c"),
        )
    scored = (
        com.join(sizes.select(F.col("doc_id").alias("new_doc"), F.col("n").alias("n_a")), "new_doc")
        .join(sizes.select(F.col("doc_id").alias("index_doc"), F.col("n").alias("n_b")), "index_doc")
        .withColumn("jaccard", F.round(F.col("c") / (F.col("n_a") + F.col("n_b") - F.col("c")), 4))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    # best match per new doc as max(struct(jaccard, -index_doc)) — the
    # (jaccard DESC, index_doc ASC) row_number pick as a partial+final
    # HashAggregate instead of Exchange + Sort + Window (r15, guide §2.3;
    # jaccard is rounded to a 4-dp grid and index_doc is an integer, so
    # the struct comparison reproduces the sort order exactly)
    pick = F.max(F.struct(F.col("jaccard"), (-F.col("index_doc")).alias("ni")))
    best = scored.groupBy("new_doc").agg(pick.alias("p")).select(
        "new_doc",
        (-F.col("p.ni")).alias("best_match"),
        F.col("p.jaccard").alias("best_jaccard"),
    )
    # batch docs with ≥1 shingle, straight off the staged array frame —
    # row-identical to DISTINCT over the exploded batch (sa keeps exactly
    # the docs with ≥1 distinct shingle; r15, no explode + no re-agg)
    batch_docs = sa.filter(is_batch).select(
        F.col("doc_id").alias("new_doc")
    ).distinct()
    return batch_docs.join(best, "new_doc", "left").select(
        "new_doc",
        "best_match",
        "best_jaccard",
        F.col("best_match").isNull().alias("is_new"),
    )


@register(
    "dedup_source_overlap_matrix",
    oracle=f"""
    WITH sh AS MATERIALIZED ({_SHINGLE_SQL}),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    {_capped_com_sql(materialized=True)},
    pairs AS (
        SELECT doc_a, doc_b, round(c / (x.n + y.n - c), 4) AS jaccard
        FROM com JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
        WHERE c / (x.n + y.n - c) >= {JACCARD_THRESHOLD}
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           count(*) AS n_pairs,
           round(sum(jaccard), 4) AS sum_jaccard
    FROM pairs
    JOIN documents da ON pairs.doc_a = da.doc_id
    JOIN documents db ON pairs.doc_b = db.doc_id
    GROUP BY 1, 2
    """,
    category="dedup",
)
def dedup_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-governance artifact: WHERE does duplication come from? The
    exact near-dup pairs (Jaccard ≥ 0.8) are attributed to their sources
    and rolled into a (source_a, source_b) matrix — diagonal entries are
    within-feed duplication (a crawler re-fetching itself), off-diagonal
    entries are cross-feed mirroring (two vendors shipping the same
    content), which is the expensive kind to discover late. Sources are
    least/greatest-normalized so each unordered feed pair is one row.

    Scale shape: the pair machinery is the shared DF-capped inverted
    index (_candidate_common_counts); attribution is two broadcast-able
    joins against the doc→source projection (at 100 TB the doc table
    side is column-pruned to (doc_id, source)); the final matrix is
    bounded by #sources², not by pairs."""
    d = _docs(spark, sf_dir)
    sa = _staged_sa(spark, sf_dir)
    pairs = _exact_jaccard_pairs(
        exploded_shingles(sa), JACCARD_THRESHOLD,
        common=_staged_common(spark, sf_dir, sa),
        sizes=_sa_sizes(sa),
    )
    src = d.select("doc_id", "source")
    out = (
        pairs.join(src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")), "doc_a")
        .join(src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")), "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            "jaccard",
        )
    )
    # sum, not avg: the jaccards are exact 4-decimal values, so their SUM
    # lies exactly on the 1e-4 grid (engine-safe rounding), while an avg
    # divides off-grid and can land on an .xxx5 half-boundary where the
    # engines' rounding paths disagree (seen at sf0.1)
    return out.groupBy("source_a", "source_b").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.sum("jaccard"), 4).alias("sum_jaccard"),
    )
