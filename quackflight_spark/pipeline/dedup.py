"""Deduplication suite — beyond-reference training-data-pipeline operators
(BASELINE.json north star; the reference has no dedup surface).

Five dedup families over the `documents` fixture, all expressed with
built-in Catalyst expressions (no Python in the data path) so they run at
100 TB:

- exact          hash-groupBy on canonicalized text
- ngram_jaccard  exact word-bigram Jaccard via shingle-inverted-index join
- minhash_lsh    MinHash signatures + banded LSH candidate join + exact
                 Jaccard verify (the classic FindDups-at-scale pipeline)
- simhash        48-bit SimHash + 4-band pigeonhole blocking + Hamming
                 verify (hamming ≤ 3 with 4 bands → zero false negatives,
                 so the oracle can check exact equality)
- embedding      cosine near-dup pairs over the embeddings table

Scale notes: every candidate-generation step is a shuffle on a
blocking/bucket key (shingle, band bucket, simhash chunk) — never an
all-pairs cross join. The all-pairs form appears only in the DuckDB
oracles (fine at oracle SF).

Cross-engine-deterministic hashing: h_i(s) = first 15 hex chars of
md5(i || ':' || s) parsed as a 60-bit int — identical in Spark
(conv(...,16,10)) and DuckDB (CAST('0x'||... AS BIGINT)), no engine
hash() involved.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from quackflight_spark.pipeline.frame_cache import fixpoint, shared_frame
from quackflight_spark.registry import query
from quackflight_spark.sources.fixtures import load_table

N_MINHASH = 64          # minhash permutations
LSH_ROWS = 2            # rows per band
LSH_BANDS = N_MINHASH // LSH_ROWS  # 32 bands → P(miss | j=0.7) ≈ 4e-10
JACCARD_THRESHOLD = 0.7
SIMHASH_BITS = 48

# Above this corpus size the per-doc hash-array side tables (~8 KB/doc)
# stop being broadcast in the minhash verify join and the plan falls back
# to AQE's choice — at real scale the table is bucketed on doc_id instead
# (co-partitioned joins). 200k docs ≈ 1.6 GB, comfortably under Spark's
# 8 GB broadcast ceiling with driver headroom.
BROADCAST_DOC_LIMIT = 200_000


def _corpus_doc_count(sf_dir: str) -> int:
    """Row count from the parquet footer — no Spark job, no scan. A
    corpus that is not a single local parquet file (multi-file dataset,
    object store) is by definition past toy scale: report it as large so
    the caller skips the broadcast hint."""
    import os

    import pyarrow.parquet as pq

    try:
        return pq.ParquetFile(os.path.join(sf_dir, "documents.parquet")).metadata.num_rows
    except Exception:
        return BROADCAST_DOC_LIMIT + 1
SIMHASH_BANDS = 4       # 12-bit chunks; hamming ≤ SIMHASH_BANDS-1 guaranteed caught
HAMMING_MAX = 3
CLUSTER_MAX_ROUNDS = 50  # min-label propagation bound (≫ near-dup diameters)
DEDUP_LSH_PLANES = 16    # sign bits per sketch (embedding dedup blocking)
DEDUP_LSH_TABLES = 480   # OR-amplified tables → P(miss | cos=0.8) ≈ 4e-6


def _h60(seed: Column, s: Column) -> Column:
    """60-bit deterministic hash, identical in the DuckDB oracle."""
    return F.conv(
        F.substring(F.md5(F.concat(seed.cast("string"), F.lit(":"), s)), 1, 15), 16, 10
    ).cast("bigint")


def _h48(seed: Column, s: Column) -> Column:
    """48-bit variant: values stay ≤ 2^48, so dividing by 2^b in doubles
    is exact (mantissa fits) — needed where the shift count is a lambda
    variable and F.shiftright's literal-only API can't be used."""
    return F.conv(
        F.substring(F.md5(F.concat(seed.cast("string"), F.lit(":"), s)), 1, 12), 16, 10
    ).cast("bigint")


def _barrier(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Exchange barrier: stops Catalyst's CollapseProject from inlining a
    heavy column expression into every downstream reference (which would
    recompute e.g. a MinHash signature once per band). One hash shuffle on
    the row key; the expensive projection evaluates exactly once below it.
    At scale this also spreads the CPU-heavy map evenly across executors."""
    return df.repartition(F.col(key))


def word_bigrams(words: Column) -> Column:
    """Distinct word-bigram shingles from a materialized words array
    (sorted for canonical comparison)."""
    n = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat(F.element_at(words, i), F.lit(" "), F.element_at(words, i + 1)),
    )
    return F.array_sort(F.array_distinct(grams))


def doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, sh: distinct word-bigram shingles), with
    barriers so tokenize and shingle each evaluate once. Built once per
    corpus dir and persisted (frame_cache) — the materialized staging
    table every dedup family reads."""
    def build() -> DataFrame:
        d = _barrier(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("words")
            )
        )
        return _barrier(d.select("doc_id", word_bigrams(F.col("words")).alias("sh")))

    return shared_frame("doc_shingles", sf_dir, build)


def doc_shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, hsh: sorted 60-bit hashes of the distinct shingles, n_sh).

    The compact verify-side representation for Jaccard on candidate
    pairs: int arrays are ~2.5× smaller than the string shingles and,
    being bounded (~8 KB/doc), broadcastable — so pair-verify joins never
    shuffle array payloads.  Hashing preserves exact Jaccard w.h.p.: a
    within-doc 60-bit collision (which would shrink |A|) has
    P ≈ n_sh²/2⁶¹ ≈ 4e-13 per doc.  Built once per corpus (frame_cache)."""
    d = doc_shingles(spark, sf_dir)
    return shared_frame(
        "doc_shingle_hashes",
        sf_dir,
        lambda: d.select(
            "doc_id",
            F.array_sort(F.transform(F.col("sh"), lambda s: _h60(F.lit(0), s))).alias("hsh"),
            F.size("sh").alias("n_sh"),
        ),
    )


# DuckDB equivalent of word_bigrams (shared by several oracles)
_DUCK_BIGRAMS = """
    list_sort(list_distinct(
      list_transform(range(1, len(regexp_split_to_array(trim(text), '\\s+'))),
        i -> regexp_split_to_array(trim(text), '\\s+')[i] || ' ' ||
             regexp_split_to_array(trim(text), '\\s+')[i+1])
    ))
"""


def _duck_jaccard_pairs(threshold: float) -> str:
    """Exact pairwise-Jaccard CTE block (DuckDB), inverted-index form.

    Semantically identical to the naive `t a JOIN t b ON a.doc_id <
    b.doc_id` + list_intersect formulation (differentially verified —
    same rows at sf0.01), but restructured around a shingle inverted
    index: |A∩B| = postings-join count, |A∪B| = |A|+|B|-|A∩B|.  Exactness
    is unconditional — any pair with jaccard > 0 shares ≥ 1 shingle, and
    every threshold is > 0.  The naive form is O(n²) list_intersects and
    dominated the driver's correctness gate (~10 s per dedup key at
    sf0.01 vs < 1 s for this form); an oracle that states ground truth
    tractably keeps the whole 141-key gate inside the driver's budget."""
    return f"""
    t AS MATERIALIZED (SELECT doc_id, {_DUCK_BIGRAMS} AS sh FROM documents),
    inv AS (SELECT doc_id, unnest(sh) AS shingle FROM t),
    sizes AS (SELECT doc_id, len(sh) AS n FROM t),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b,
             CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
      FROM common
      JOIN sizes sa ON sa.doc_id = common.doc_a
      JOIN sizes sb ON sb.doc_id = common.doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= {threshold}
    )
    """


@query("dedup_exact", oracle="""
    SELECT md5(lower(trim(text))) AS text_hash,
           min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents
    GROUP BY md5(lower(trim(text)))
""")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonicalize → hash → groupBy. One shuffle on the
    128-bit hash; survivor = min doc_id. At 100 TB: map-side partial agg
    collapses per-partition copies before the shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("text_hash", F.md5(F.lower(F.trim(F.col("text")))))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@query("dedup_ngram_jaccard", oracle=f"""
    WITH {_duck_jaccard_pairs(0.5)}
    SELECT doc_a, doc_b, round(jaccard, 8) AS jaccard FROM pairs
""")
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ 0.5 via a shingle inverted index:
    explode shingles → self-join on shingle (shuffle on shingle, never
    all-pairs) → per-pair common count → Jaccard. The oracle computes the
    same thing the O(n²) way — equality proves the index join is lossless
    (any pair with jaccard > 0 shares ≥1 shingle, and we only threshold
    above 0)."""
    d = doc_shingles(spark, sf_dir)
    sizes = d.select("doc_id", F.size("sh").alias("n_sh"))
    inv = d.select("doc_id", F.explode("sh").alias("shingle"))
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        common.join(F.broadcast(sa), "doc_a").join(F.broadcast(sb), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                8,
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


CONTAINMENT_T = 0.8  # C(A→B) threshold for subset-duplicate pairs


@query("dedup_containment", oracle=f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id, {_DUCK_BIGRAMS} AS sh FROM documents
    ),
    inv AS (SELECT doc_id, unnest(sh) AS shingle FROM t),
    sizes AS (SELECT doc_id, len(sh) AS n FROM t),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b, n_common, sa.n AS na, sb.n AS nb
      FROM common
      JOIN sizes sa ON sa.doc_id = common.doc_a
      JOIN sizes sb ON sb.doc_id = common.doc_b
    )
    SELECT doc_a AS doc_contained, doc_b AS doc_container,
           round(CAST(n_common AS DOUBLE) / na, 8) AS containment,
           round(CAST(n_common AS DOUBLE) / (na + nb - n_common), 8)
             AS jaccard
    FROM pairs WHERE CAST(n_common AS DOUBLE) / na >= {CONTAINMENT_T}
    UNION ALL
    SELECT doc_b, doc_a,
           round(CAST(n_common AS DOUBLE) / nb, 8),
           round(CAST(n_common AS DOUBLE) / (na + nb - n_common), 8)
    FROM pairs WHERE CAST(n_common AS DOUBLE) / nb >= {CONTAINMENT_T}
""")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs (new r6) — the subset-
    duplicate detector symmetric Jaccard structurally misses: when a
    short document is embedded verbatim inside a much longer one (quote
    farms, boilerplate wrappers, truncated re-crawls), J = |A∩B|/|A∪B|
    is dragged toward 0 by the big union while C(A→B) = |A∩B|/|A| stays
    ~1. Emits DIRECTED (contained, container) pairs with C ≥ 0.8 plus
    the pair's Jaccard so downstream policy can distinguish true
    subsets (high C, low J) from mutual near-dups (both high). Same
    measure as Broder's containment / the BigQuery-dedup "superset"
    pass.

    Scale shape: identical to dedup_ngram_jaccard — shingle inverted-
    index self-join (shuffle on shingle, never all-pairs), per-pair
    counts, sizes broadcast back; the direction split is a post-agg
    projection, free. Losslessness is unconditional: C ≥ 0.8 > 0
    implies ≥ 1 shared shingle, so every qualifying pair appears in the
    index join. Hot-shingle skew bounds as in pipeline/blocking.py.
    Measured (tools/scale_curve_containment.py, 5k/20k/80k docs with
    linear pair structure): 2.4/8.6/66 s — linear to 20k, then shuffle-
    sort pressure bends the 80k point; joining on the 60-bit shingle
    HASH instead of the string was TRIED and measured SLOWER end-to-end
    (98 s at 80k: the extra corpus-wide hashing pass costs more than
    the narrower join key saves when the staging frame isn't amortized
    across queries) — kept on strings, negative result in PERF.md."""
    d = doc_shingles(spark, sf_dir)
    sizes = d.select("doc_id", F.size("sh").alias("n_sh"))
    inv = d.select("doc_id", F.explode("sh").alias("shingle"))
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    # NOT pinned (r12 negative): fwd and rev both read `pairs` and the
    # initial plan shows the inverted-index self-join twice — but AQE
    # stage reuse shares the identical exchanges at runtime, and an
    # interleaved pin-vs-nopin A/B measured the checkpoint WORSE
    # (2.21 vs 1.58 s min-of-3). See OPTIMIZATION_r12.md.
    pairs = common.join(F.broadcast(sa), "doc_a").join(F.broadcast(sb), "doc_b")
    jac = F.round(
        F.col("n_common").cast("double")
        / (F.col("na") + F.col("nb") - F.col("n_common")),
        8,
    )
    fwd = pairs.filter(
        F.col("n_common").cast("double") / F.col("na") >= CONTAINMENT_T
    ).select(
        F.col("doc_a").alias("doc_contained"),
        F.col("doc_b").alias("doc_container"),
        F.round(F.col("n_common").cast("double") / F.col("na"), 8).alias(
            "containment"
        ),
        jac.alias("jaccard"),
    )
    rev = pairs.filter(
        F.col("n_common").cast("double") / F.col("nb") >= CONTAINMENT_T
    ).select(
        F.col("doc_b").alias("doc_contained"),
        F.col("doc_a").alias("doc_container"),
        F.round(F.col("n_common").cast("double") / F.col("nb"), 8).alias(
            "containment"
        ),
        jac.alias("jaccard"),
    )
    return fwd.unionByName(rev)


@query("text_novelty", oracle=f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id, {_DUCK_BIGRAMS} AS sh FROM documents
    ),
    inv AS (SELECT doc_id, unnest(sh) AS shingle FROM t),
    df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM inv
           GROUP BY shingle),
    per AS (
      SELECT i.doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique
      FROM inv i JOIN df d USING (shingle)
      GROUP BY i.doc_id
    )
    SELECT doc_id, n_shingles, n_unique,
           CAST(10000 * n_unique // n_shingles AS BIGINT) AS novelty_bp
    FROM per
""")
def text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty (new r6) — the share of a doc's distinct
    word-bigram shingles that appear NOWHERE else in the corpus
    (document frequency 1): the memorization/duplication-risk signal
    corpus governance tracks alongside dedup — low-novelty docs are
    assembled from corpus-common fragments (templates, boilerplate,
    near-dups that survived pair thresholds); high-novelty docs carry
    unique content. The complement of pipeline_overlap_matrix's
    cross-source view, at document grain.

    Exactness: df counts and the unique-shingle tally are exact
    integers off the shared doc_shingles staging frame; novelty is
    held in integer basis points (floor-div), float-free.

    Scale shape: one shingle-keyed df aggregate (map-side combined,
    bounded by the shingle vocabulary) joined back onto the inverted
    index — both shuffles key on the shingle, the same plan family as
    the dedup keys and decontamination; nothing is all-pairs."""
    d = doc_shingles(spark, sf_dir)
    inv = d.select("doc_id", F.explode("sh").alias("shingle"))
    df_tbl = inv.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    per = (
        inv.join(df_tbl, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_unique"),
        )
    )
    return per.select(
        "doc_id",
        "n_shingles",
        "n_unique",
        F.expr("10000 * n_unique DIV n_shingles")
        .cast("bigint")
        .alias("novelty_bp"),
    )


MINHASH_P = 2147483647  # 2^31-1; (a*h+b) stays < 2^52 — no bigint overflow


def minhash_base(shingles: Column) -> Column:
    """One md5-derived base hash (mod p) per shingle. Materialize behind a
    barrier before minhash_signature — md5 is the expensive part and must
    evaluate once, not once per permutation."""
    return F.transform(shingles, lambda s: _h60(F.lit(0), s) % MINHASH_P)


def minhash_signature(base: Column) -> Column:
    """N_MINHASH-wide MinHash signature from materialized base hashes.
    The i-th permutation is the affine family h_i = ((2i+1)·h +
    40503i+1231) mod p — 64× cheaper than 64 md5s per shingle, same
    cross-engine determinism. Computed in an Arrow numpy kernel (int64-
    exact, identical values to the Catalyst fold — see veckernels.py for
    why interpreted HOFs lose here)."""
    from quackflight_spark.pipeline.veckernels import minhash_sig_udf

    return minhash_sig_udf(N_MINHASH, MINHASH_P)(base)


def minhash_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) band index from a (doc_id, sig) signature
    frame: band b's bucket key = md5 of its LSH_ROWS-wide signature
    slice. Shared by the full self-join (dedup_minhash_lsh) and the
    incremental probe (dedup_minhash_append) so both read ONE banding
    definition — the corpus index an append probes is bit-identical to
    the one a rebuild would construct."""
    return sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",", F.slice(F.col("sig"), b * LSH_ROWS + 1, LSH_ROWS).cast("array<string>")
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


@query("dedup_minhash_lsh", oracle=f"""
    WITH {_duck_jaccard_pairs(JACCARD_THRESHOLD)}
    SELECT doc_a, doc_b, round(jaccard, 8) AS jaccard FROM pairs
""")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup detection.

    Pipeline: shingle → 64-hash MinHash signature → 32 bands × 2 rows →
    band-bucket self-join (candidates) → exact-Jaccard verify ≥ 0.7.
    The oracle is ground truth (all pairs ≥ 0.7): equality holds because
    the verify step removes LSH false positives and P(false negative) at
    j ≥ 0.7 is (1-j²)³² ≤ 4e-10 — checked empirically in tests too.

    Scale: candidates shuffle on (band, bucket-hash); signature compute is
    a pure map. 100 TB plan: no stage touches all-pairs space.
    """
    d = doc_shingles(spark, sf_dir)

    def build_sig() -> DataFrame:
        based = _barrier(d.select("doc_id", "sh", minhash_base(F.col("sh")).alias("base")))
        return _barrier(
            based.select("doc_id", "sh", minhash_signature(F.col("base")).alias("sig"))
        )

    sig = shared_frame("minhash_sig", sf_dir, build_sig)
    hs = doc_shingle_hashes(spark, sf_dir)
    bands = minhash_bands(sig)
    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Exact verify on the candidate set. The arrays must NOT ride the
    # candidate shuffle: on this corpus the 32×2 banding (needed for the
    # 4e-10 miss bound) admits ~400k false-positive candidates, and
    # joining each to two ~20 KB string-shingle arrays pushed ~17 GB
    # through the exchange (r2 bench: 8-80 s with GC thrash).  Instead the
    # per-doc SORTED 60-bit shingle-hash arrays (8 KB, broadcastable)
    # attach via broadcast hash joins — candidates stay (long, long) pairs
    # end-to-end and the intersect runs on int arrays in codegen.  At
    # 100 TB the same shape holds with the hash-array table bucketed on
    # doc_id (co-partitioned joins) instead of broadcast.
    # Exact size-ratio pre-filter before any array rides a join:
    # jaccard = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|), so a pair whose
    # shingle-set sizes differ by more than the threshold ratio can never
    # verify. On this fixture it discards ~2/3 of the ~420k LSH false
    # positives using only the (doc_id, n_sh) int table (broadcast, a few
    # bytes per doc at any corpus size). The margin keeps every pair the
    # final round(j, 8) >= t filter could keep (j <= ratio exactly; the
    # 0.001 slack dominates the 5e-9 rounding window).
    # Broadcast only while the hash-array tables actually fit (gate on the
    # footer row count, r2 advice — an unconditional hint OOMs the driver
    # past ~200k docs); larger corpora verify against the hash table
    # materialized as a doc_id-bucketed managed table instead, so the
    # 8 KB/doc arrays never cross an exchange (minhash_verify below;
    # Exchange-free array side plan-asserted in tests/test_writers.py).
    if _corpus_doc_count(sf_dir) <= BROADCAST_DOC_LIMIT:
        return minhash_verify(candidates, hs, use_broadcast=True)
    return minhash_verify(
        candidates, minhash_hash_table_bucketed(spark, sf_dir), use_broadcast=False
    )


def minhash_hash_table_bucketed(
    spark: SparkSession, sf_dir: str, n_buckets: int = 64
) -> DataFrame:
    """doc_shingle_hashes materialized once per corpus as a managed table
    bucketed + sorted on doc_id — the at-scale verify-side layout. Every
    verify join then reads the arrays straight from bucketed files: the
    stream (candidate-pair) side shuffles its (long, long) rows into the
    bucketing, the array side plans NO Exchange (bucketed scan satisfies
    the join's hash distribution). Write-once, read-per-band-config.
    The table name fingerprints the SOURCE parquet (mtime_ns + size, the
    same freshness key textformats._staged uses), so regenerated
    fixtures at the same path rebuild the hash table instead of silently
    serving stale arrays. Caveats (single-host warehouse assumption):
    superseded fingerprints leave their directories behind (bounded by
    fixture regenerations — rare), and the orphan cleanup consults only
    THIS session's catalog, so a warehouse shared by concurrent
    independent sessions would need a shared metastore instead."""
    import os
    import shutil

    table = minhash_table_name(sf_dir)
    if not spark.catalog.tableExists(table):
        # An orphaned warehouse directory (table written by a previous
        # session whose in-memory catalog is gone) blocks the managed
        # write with LOCATION_ALREADY_EXISTS — it is a rebuildable
        # cache, so clear it rather than fail. Guarded to LOCAL
        # filesystem warehouses only (r5 advisory): for hdfs://
        # s3a://-style URIs os.path can't see the directory (the check
        # was a silent no-op) and an os-level rmtree of an
        # equally-named local path would delete the wrong thing —
        # there, drop through the catalog instead, which knows the
        # real location.
        wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        if "://" in wh and not wh.startswith("file:"):
            spark.sql(f"DROP TABLE IF EXISTS {table}")
        else:
            loc = os.path.join(wh.removeprefix("file:"), table)
            if os.path.exists(loc):
                shutil.rmtree(loc, ignore_errors=True)
        from quackflight_spark.sources.writers import write_bucketed

        write_bucketed(doc_shingle_hashes(spark, sf_dir), table, ["doc_id"], n_buckets)
    return spark.table(table)


def minhash_table_name(sf_dir: str) -> str:
    """Fingerprinted cache-table name for the bucketed hash-array table
    (shared with tests so cleanup always targets the live name)."""
    import hashlib
    import os

    src = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(src)
        fp = f"{sf_dir}:{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        fp = sf_dir
    return "qf_minhash_hsh_" + hashlib.md5(fp.encode()).hexdigest()[:10]


def minhash_verify(
    candidates: DataFrame, hs: DataFrame, use_broadcast: bool
) -> DataFrame:
    """Exact-Jaccard verify of (doc_a, doc_b) candidate pairs against the
    (doc_id, hsh, n_sh) shingle-hash table: size-ratio pre-filter on the
    tiny (doc_id, n_sh) projection first, then int-array intersect on the
    sorted 60-bit hash arrays. With use_broadcast the four side frames are
    broadcast; otherwise they join as-is (pass a bucketed frame from
    minhash_hash_table_bucketed so the array side stays Exchange-free)."""
    sa = hs.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = hs.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    ha = hs.select(F.col("doc_id").alias("doc_a"), F.col("hsh").alias("ha"))
    hb = hs.select(F.col("doc_id").alias("doc_b"), F.col("hsh").alias("hb"))
    n_common = F.size(F.array_intersect("ha", "hb"))
    if use_broadcast:
        sa, sb, ha, hb = F.broadcast(sa), F.broadcast(sb), F.broadcast(ha), F.broadcast(hb)
    plausible = (
        candidates.join(sa, "doc_a").join(sb, "doc_b")
        .filter(
            F.least("na", "nb").cast("double") / F.greatest("na", "nb")
            >= JACCARD_THRESHOLD - 0.001
        )
    )
    return (
        plausible.join(ha, "doc_a").join(hb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                n_common.cast("double") / (F.col("na") + F.col("nb") - n_common),
                8,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_features(text: Column) -> Column:
    """Weighted word features for SimHash: array<struct<h:bigint, cnt:int>>
    (48-bit word hash + occurrence count). Materialize this column behind
    a barrier before calling simhash_from_features — otherwise Catalyst
    inlines it into all SIMHASH_BITS references."""
    words = F.split(F.trim(text), r"\s+")
    return F.transform(
        F.array_distinct(words),
        lambda w: F.struct(
            _h48(F.lit(0), w).alias("h"),
            F.size(F.filter(words, lambda x: x == w)).alias("cnt"),
        ),
    )


def simhash_from_features(wh: Column) -> Column:
    """SIMHASH_BITS-bit SimHash from materialized features."""
    # F.shiftright needs a literal shift count, but the shift amount is a
    # lambda variable here — use h DIV 2^b (equal to h >> b for h < 2^48,
    # exact in doubles because the 48-bit mantissa fits).
    pow2 = lambda b: F.pow(F.lit(2.0), b).cast("bigint")  # noqa: E731
    bit_contrib = lambda b: F.aggregate(  # noqa: E731
        wh,
        F.lit(0).cast("bigint"),
        lambda acc, x: acc
        + x["cnt"] * (((x["h"] / pow2(b)).cast("bigint") % 2) * 2 - 1),
    )
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
        F.lit(0).cast("bigint"),
        lambda acc, b: acc + F.when(bit_contrib(b) > 0, pow2(b)).otherwise(F.lit(0)),
    )


# Per-doc 48-bit SimHash, term-frequency-weighted ±1 votes per bit.
# Restructured (differentially verified against the naive per-bit
# list_transform form — same 297 rows at sf0.01, 150× faster): compute
# (doc, word) → tf + 48-bit word hash ONCE, cross the distinct words with
# the 48 bit positions, sum signed votes per (doc, bit), assemble the
# bitmask.  The naive form recomputed the tokenization and per-word tf
# inside every one of the 48 bit lambdas — O(48·words²) per doc.
_DUCK_SIMHASH_CTES = """
    words AS MATERIALIZED (
      SELECT doc_id, w, count(*) AS tf,
             CAST('0x' || substr(md5('0:' || w), 1, 12) AS BIGINT) AS h
      FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
            FROM documents)
      GROUP BY doc_id, w
    ),
    bits AS (
      SELECT doc_id, bb.b AS b,
             sum(tf * (2 * ((h >> bb.b) & 1) - 1)) AS weight
      FROM words CROSS JOIN (SELECT unnest(range(0, 48)) AS b) bb
      GROUP BY doc_id, bb.b
    ),
    t AS MATERIALIZED (
      SELECT doc_id,
             sum(CASE WHEN weight > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS sh
      FROM bits GROUP BY doc_id
    )
"""


@query("dedup_simhash", oracle=f"""
    WITH {_DUCK_SIMHASH_CTES}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= {HAMMING_MAX}
""")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ 3.

    Blocking: split the 48-bit hash into 4 × 12-bit chunks and self-join
    on chunk equality — by pigeonhole, any pair with ≤ 3 differing bits
    agrees on ≥ 1 chunk, so blocking is *lossless* and oracle equality is
    exact (not probabilistic). Verify step computes true Hamming.
    """
    def build_sh() -> DataFrame:
        feats = _barrier(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", simhash_features(F.col("text")).alias("wh")
            )
        )
        return _barrier(
            feats.select("doc_id", simhash_from_features(F.col("wh")).alias("sh"))
        )

    d = shared_frame("simhash_sig", sf_dir, build_sh)
    chunk_bits = SIMHASH_BITS // SIMHASH_BANDS
    chunks = d.select(
        "doc_id",
        "sh",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1)),
                lambda c: F.struct(
                    c.alias("chunk_id"),
                    # sh DIV 2^(c·bits) & mask; exact since sh < 2^48
                    (F.col("sh") / F.pow(F.lit(2.0), c * chunk_bits))
                    .cast("bigint")
                    .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                    .alias("chunk_val"),
                ),
            )
        ).alias("cc"),
    ).select("doc_id", "sh", "cc.chunk_id", "cc.chunk_val")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .distinct()
    )


@query("dedup_embedding", oracle="""
    WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.e, b.e), 6) AS cos_sim
    FROM t a JOIN t b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.8
""")
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.8), LSH-blocked.

    Candidates come from DEDUP_LSH_TABLES independent random-hyperplane
    sign sketches of DEDUP_LSH_PLANES bits (OR-amplified): two vectors
    are candidates iff they share a sketch in ANY table — a plain
    equi-join keyed on (table, sketch), never an all-pairs stage (the r1
    theta join shuffled O(n²) rows — a 100×-scale killer). The verify
    step computes the exact cosine on candidates with the same Catalyst
    fold as the oracle, so false positives are removed exactly.

    Parameter choice (b = 16 planes, T = 480 tables): a pair at
    cos = 0.8 collides per plane with p = 1 - arccos(0.8)/π ≈ 0.795,
    per table p¹⁶ ≈ 0.026, so P(miss) = (1-p¹⁶)⁴⁸⁰ ≈ 4e-6 — vanishing
    as cos → 1, the regime this operator exists for.  The 16-bit tables
    are what make the blocking actually BLOCK: an uncorrelated pair
    (cos ≈ 0 ⇒ p ≈ 0.5) passes a table with 0.5¹⁶ ≈ 1.5e-5, so random
    pass-through is 1-(1-1.5e-5)⁴⁸⁰ ≈ 0.7 % of all pairs (the r2-interim
    4-bit × 24-table setting had the same miss bound but let 77 % of
    random pairs through — all-pairs with extra steps).  The DuckDB
    oracle stays the all-pairs ground truth. At 100 TB: sketch compute
    is a pure Arrow map over the corpus; candidate volume is governed by
    the (b, T) operating point.
    """
    from quackflight_spark.pipeline.similarity import _hyperplanes
    from quackflight_spark.pipeline.veckernels import lsh_sketch_udf

    def build_sketches() -> DataFrame:
        e = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
        norm = F.sqrt(F.aggregate(F.col("e"), F.lit(0.0), lambda a_, x: a_ + x * x))
        # sign sketches are scale-invariant — raw vectors sketch identically
        # to normalized ones, so no separate normalize pass is needed here
        sketch = lsh_sketch_udf(
            _hyperplanes(DEDUP_LSH_TABLES, DEDUP_LSH_PLANES, seed="dedup:"),
            DEDUP_LSH_TABLES,
            DEDUP_LSH_PLANES,
        )
        return _barrier(
            e.withColumn("n", norm).withColumn("skl", sketch(F.col("e"))),
            key="vec_id",
        )

    sk = shared_frame("dedup_emb_sketch", sf_dir, build_sketches)
    buckets = sk.select("vec_id", F.posexplode("skl").alias("tbl", "sk"))
    a, b = buckets.alias("a"), buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.sk") == F.col("b.sk"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    va = sk.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"), F.col("n").alias("na"))
    vb = sk.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"), F.col("n").alias("nb"))
    dot = F.aggregate(
        F.zip_with(F.col("ea"), F.col("eb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        candidates.join(va, "vec_a").join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(dot / (F.col("na") * F.col("nb")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.8)
    )


# Broadcast the per-round label table only while the node count fits
# comfortably in executor memory: 4 M (node, lbl) int64 pairs ~ 64 MB
# serialized — far under Spark's 8 GB broadcast cap. Past the gate the
# kernel keeps its keyed-shuffle round shape unchanged.
MLC_BROADCAST_NODE_LIMIT = 4_000_000


def min_label_components(
    edges: DataFrame, max_rounds: int, caller: str
) -> DataFrame:
    """Distributed connected components by min-label propagation with
    path halving — the shared kernel behind dedup_clusters and
    graph_wcc. `edges` is a directed (src, dst) frame; pass BOTH
    directions for an undirected graph (every node must appear as src).
    Returns (node, lbl) with lbl = the component's min node id.

    localCheckpoint (eager) rather than persist: iterative algorithms
    accumulate lineage — by round N the logical plan embeds the whole
    upstream pipeline N times over and Catalyst re-analysis dominated
    the loop (~9 s/round on a 48-node graph at sf0.01). Checkpointing
    truncates the plan to the materialized blocks, so per-round
    planning cost is CONSTANT. On a cluster use reliable
    checkpoint(dir) for executor-loss tolerance — same call shape.

    Path halving (pointer jumping): lbl ← min(lbl, lbl[lbl]). Labels
    are always in-component node ids, so following the label's own
    label stays in-component; each round therefore halves remaining
    pointer chains and convergence is O(log diameter) rounds, not
    O(diameter) — the standard trick from parallel CC
    (Shiloach-Vishkin / GraphFrames' large-star). Non-convergence
    within max_rounds raises instead of silently returning
    partially-propagated labels."""
    # Lazy entry checkpoints (r12): the first round's fused
    # materialize-and-count job pulls both through in its own cascade —
    # the eager versions each paid a separate job of pure floor.
    edges = edges.localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=False)
    )
    # Size-gated broadcast of the label side (r12-opt): the round plan's
    # joins read checkpointed LogicalRDDs whose stats don't say the
    # label table is tiny, so initial planning picked SortMergeJoin and
    # the EDGE set paid a map-side shuffle write every round even when
    # AQE later switched the join (probed: 3 SMJ / 0 broadcasts in the
    # round-1 initial plan over a 13 k-row label table). The label-row
    # count is CONSTANT across rounds (every node keeps a row), so one
    # entry count decides the whole loop: under the cap each round is a
    # map-only broadcast join over the edges plus small-table work; past
    # it (billions of nodes at the 100 TB point) the keyed-shuffle shape
    # below is unchanged — the ktruss KTRUSS_BROADCAST_EDGE_LIMIT
    # precedent. Interleaved A/B at sf0.1: see OPTIMIZATION_r12.md.
    n_nodes = labels.count()
    bcast = n_nodes <= MLC_BROADCAST_NODE_LIMIT

    def maybe_bcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if bcast else df

    def propagate(full: DataFrame):
        labels = full.select("node", "lbl")
        neighbor_min = (
            edges.join(maybe_bcast(labels), edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        # carry the OLD label through the round so convergence is a
        # filter-count on the checkpointed blocks — not a join of new
        # labels back against old (r10: that join was a whole extra
        # shuffle + job per round)
        stepped = labels.join(
            maybe_bcast(neighbor_min), on="node", how="left"
        ).select(
            "node",
            F.least("lbl", F.coalesce("nlbl", "lbl")).alias("lbl"),
            F.col("lbl").alias("olbl"),
        )
        lbl_lookup = labels.select(
            F.col("node").alias("lbl"), F.col("lbl").alias("lbl2")
        )
        # A second lbl_lookup application per round (lbl <- lbl[lbl]
        # composed twice against the round-entry table) was A/B'd
        # r12-opt and REFUTED: round counts were identical on every
        # consumer (2 rounds for wcc/modularity/clusters/semantic, 7
        # for dbscan's grid CC at sf0.1) because convergence here is
        # governed by the one-graph-hop neighbor_min spread, not by
        # pointer-chain length — the single halving below already keeps
        # chains short. Timing wash-to-worse (dbscan 5.26 vs 5.57 s
        # interleaved min-of-4); extra join per round buys nothing.
        # LAZY checkpoint + count: the count() materializes the
        # checkpoint blocks AND returns the convergence signal in ONE
        # job — the eager-checkpoint-then-count pattern paid two fixed
        # per-job floors per round for the same work (r10 shave; the
        # lineage-truncation contract is unchanged, first action
        # persists the blocks)
        new_full = (
            stepped.join(maybe_bcast(lbl_lookup), on="lbl", how="left")
            .select(
                "node",
                F.least("lbl", F.coalesce("lbl2", "lbl")).alias("lbl"),
                "olbl",
            )
            .localCheckpoint(eager=False)
        )
        return new_full, new_full.filter(F.col("lbl") != F.col("olbl")).count()

    # `edges` stays live for the whole loop (every round joins it); each
    # round's label checkpoint is freed by the driver once the next one
    # is counted. Bound >> log₂(diameter).
    full = fixpoint(f"{caller}.min_label", labels, propagate, max_rounds)
    return full.select("node", "lbl")


@query("dedup_clusters", oracle=f"""
    WITH {_duck_jaccard_pairs(JACCARD_THRESHOLD)},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
      UNION SELECT doc_a, doc_a FROM pairs
      UNION SELECT doc_b, doc_b FROM pairs
    ),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a
      ) SELECT * FROM r
    )
    SELECT a AS doc_id, min(b) AS cluster_id,
           CAST(a = min(b) AS BOOLEAN) AS is_survivor
    FROM reach GROUP BY a
""")
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: connected components over the verified
    MinHash-LSH pair graph, survivor = the min doc_id of each component —
    the grouping step every dedup pipeline runs after pair detection
    (keep one representative per cluster, drop the rest).

    Distributed min-label propagation: every node starts labeled with its
    own id; each round joins labels across edges and keeps the elementwise
    min; converges in diameter(G) rounds (near-dup components are tiny —
    a handful of rounds). Per-round work is two keyed shuffles, fully
    distributed; the driver sees only a changed-row count per round. This
    is the standard large-graph CC pattern (GraphFrames/GraphX use the
    same propagation with star-contraction accelerations). The oracle is
    a DuckDB recursive-CTE transitive closure over the same pairs.

    The converged label frame is built once per corpus (frame_cache) —
    repeated invocations read the persisted result instead of re-running
    the propagation loop; intermediates are unpersisted in a `finally`.
    Non-convergence within CLUSTER_MAX_ROUNDS raises instead of silently
    returning partially-propagated labels (a component with diameter >
    the bound — e.g. a chain of templated boilerplate docs — must be a
    loud failure, not wrong cluster ids).
    """
    def build_labels() -> DataFrame:
        pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
        edges = pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        ).toDF("src", "dst")
        return min_label_components(edges, CLUSTER_MAX_ROUNDS, "dedup_clusters")

    labels = shared_frame("cluster_labels", sf_dir, build_labels)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        (F.col("node") == F.col("lbl")).alias("is_survivor"),
    )


@query("pipeline_dedup_keep_best", oracle=f"""
    WITH {_duck_jaccard_pairs(JACCARD_THRESHOLD)},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
      UNION SELECT doc_a, doc_a FROM pairs
      UNION SELECT doc_b, doc_b FROM pairs
    ),
    reach AS (
      WITH RECURSIVE r(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a
      ) SELECT * FROM r
    ),
    members AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
    scored AS (
      SELECT m.doc_id, m.cluster_id, CAST(length(d.text) AS BIGINT) AS n_chars
      FROM members m JOIN documents d USING (doc_id)
    ),
    ranked AS (
      SELECT doc_id, cluster_id, n_chars,
             row_number() OVER (PARTITION BY cluster_id
               ORDER BY n_chars DESC, doc_id) AS rn
      FROM scored
    )
    SELECT doc_id, cluster_id, n_chars FROM ranked WHERE rn = 1
    UNION ALL
    SELECT d.doc_id, d.doc_id AS cluster_id, CAST(length(d.text) AS BIGINT)
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM members)
""")
def pipeline_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's final step: one representative per near-dup
    cluster, KEEP-LONGEST policy (standard in corpus prep — the longest
    member usually subsumes its truncated near-dups), tie-break min
    doc_id; docs outside any cluster survive as their own cluster.

    Scale shape: reuses the persisted cluster labels (dedup_clusters'
    frame_cache — the propagation does not re-run), one hash-aggregate
    shuffle on cluster_id with map-side combine via max(struct), and one
    anti-join of the corpus against the (small) member set. No windows,
    no global sort."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("bigint").alias("n_chars")
    )
    members = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    best = (
        members.join(d, "doc_id")
        .groupBy("cluster_id")
        # max over (n_chars, -doc_id) = longest doc, then smallest doc_id
        .agg(
            F.max(
                F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
            ).alias("s")
        )
        .select(
            (-F.col("s.neg_id")).cast("bigint").alias("doc_id"),
            "cluster_id",
            F.col("s.n_chars").alias("n_chars"),
        )
    )
    singletons = d.join(members, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("cluster_id"), "n_chars"
    )
    return best.unionByName(singletons)


INCR_CORPUS_BUCKETS = 10   # doc_id md5-bucket < 8 → existing corpus (80%)
INCR_CORPUS_CUT = 8


@query("dedup_incremental", oracle=f"""
    WITH hashed AS (
      SELECT doc_id, md5(lower(trim(text))) AS text_hash,
             (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
              % {INCR_CORPUS_BUCKETS}) < {INCR_CORPUS_CUT} AS in_corpus
      FROM documents
    ),
    corpus AS (SELECT DISTINCT text_hash FROM hashed WHERE in_corpus),
    batch AS (SELECT doc_id, text_hash FROM hashed WHERE NOT in_corpus)
    SELECT b.doc_id, b.text_hash
    FROM batch b
    ANTI JOIN corpus c ON b.text_hash = c.text_hash
    QUALIFY row_number() OVER (PARTITION BY b.text_hash ORDER BY b.doc_id) = 1
""")
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta-vs-corpus) dedup: admit from a new ingest batch
    only documents whose canonical content hash is absent from the
    already-ingested corpus, deduplicating within the batch as well
    (min-doc_id survivor). Fixture split: md5 bucket of doc_id — 80%
    'corpus', 20% 'new batch'.

    This is the operation a continuously-fed training corpus actually
    runs: the petabyte corpus is never rescanned per ingest. Its hash
    index (a 16-byte-hash column extracted once, kept sorted/bucketed
    next to the corpus) is all the history the delta needs. Here both
    sides derive from one fixture scan; the plan shape is the real one —
    batch LEFT ANTI corpus-hash-index keyed on the hash (the corpus side
    column-pruned to the hash alone), then a groupBy(hash).min(doc_id)
    within the delta. At scale the anti-join shuffles only hash values
    (~25 B/row), or goes broadcast when the daily delta is small."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("text_hash"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint") % INCR_CORPUS_BUCKETS < INCR_CORPUS_CUT
        ).alias("in_corpus"),
    )
    corpus_index = d.filter("in_corpus").select("text_hash").distinct()
    batch = d.filter(~F.col("in_corpus")).select("doc_id", "text_hash")
    return (
        batch.join(corpus_index, on="text_hash", how="left_anti")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "text_hash")
    )


def _incr_in_corpus() -> Column:
    """The fixture's corpus/delta split (shared with dedup_incremental):
    md5 bucket of doc_id — 80% 'already-ingested corpus', 20% 'new
    batch'."""
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % INCR_CORPUS_BUCKETS < INCR_CORPUS_CUT
    )


@query("dedup_minhash_append", oracle=f"""
    WITH {_duck_jaccard_pairs(JACCARD_THRESHOLD)},
    split AS (
      SELECT doc_id,
             (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
              % {INCR_CORPUS_BUCKETS}) < {INCR_CORPUS_CUT} AS in_corpus
      FROM documents
    )
    SELECT p.doc_a, p.doc_b, round(p.jaccard, 8) AS jaccard
    FROM pairs p
    JOIN split sa ON sa.doc_id = p.doc_a
    JOIN split sb ON sb.doc_id = p.doc_b
    WHERE sa.in_corpus <> sb.in_corpus
""")
def dedup_minhash_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH index MAINTENANCE (new r11): a delta of
    new documents probes the EXISTING band index — the corpus is never
    re-sharded, re-signed, or self-joined again. Completes the
    maintenance triangle the exact-dedup (dedup_incremental) and ANN
    (ann_ivf_append) families already have: every index family now
    carries both its build and its append path.

    Same fixture split as dedup_incremental (md5 doc_id bucket: 80%
    corpus / 20% delta). The corpus's (doc_id, band, bucket) index is
    built ONCE per corpus (frame_cache — the ingest-time artifact; at
    100 TB a table bucketed on (band, bucket)); an append computes
    signatures for DELTA docs only and equi-joins delta bands against
    the index on (band, bucket) — a keyed probe proportional to
    |delta| × bucket hit rate, never |corpus|. Candidates then run the
    standard exact-Jaccard verify (size-ratio pre-filter + sorted
    60-bit hash-array intersect, the minhash_verify kernel unchanged).

    Append == rebuild: banding is a pure per-row function of the
    signature (minhash_bands, shared with dedup_minhash_lsh), so
    delta-bands ⋈ corpus-index emits exactly the corpus×delta subset
    of the full self-join's candidates —
    tests/test_operators.py::test_minhash_append_equals_rebuild
    asserts the verified pair sets are identical. The oracle states
    ground truth (ALL cross pairs ≥ {JACCARD_THRESHOLD}): equality
    holds because verify removes LSH false positives and P(miss) at
    j ≥ {JACCARD_THRESHOLD} is ≤ 4e-10 (the dedup_minhash_lsh bound).

    Scale shape: delta signature compute is a map over delta rows; the
    probe shuffles delta band rows to the index's (band, bucket)
    layout; verify joins stay (long, long) pairs + broadcast/bucketed
    hash arrays. Within-delta duplicates are dedup_minhash_lsh on the
    delta — out of scope here by construction (the cross-probe IS the
    append operation)."""
    sh = doc_shingles(spark, sf_dir)

    def _sig_of(frame: DataFrame) -> DataFrame:
        based = _barrier(
            frame.select("doc_id", "sh", minhash_base(F.col("sh")).alias("base"))
        )
        return _barrier(
            based.select("doc_id", minhash_signature(F.col("base")).alias("sig"))
        )

    # the pre-built index: corpus docs' band buckets, built once per
    # corpus dir (the ingest-time artifact an append probes)
    index = shared_frame(
        "minhash_band_index_corpus",
        sf_dir,
        lambda: minhash_bands(_sig_of(sh.filter(_incr_in_corpus()))),
    )
    # THE APPEND: signatures for delta docs only — zero corpus work
    delta_bands = minhash_bands(_sig_of(sh.filter(~_incr_in_corpus())))
    c, d = index.alias("c"), delta_bands.alias("d")
    candidates = (
        d.join(
            c,
            (F.col("d.band") == F.col("c.band"))
            & (F.col("d.bucket") == F.col("c.bucket")),
        )
        .select(
            F.least(F.col("c.doc_id"), F.col("d.doc_id")).alias("doc_a"),
            F.greatest(F.col("c.doc_id"), F.col("d.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    hs = doc_shingle_hashes(spark, sf_dir)
    if _corpus_doc_count(sf_dir) <= BROADCAST_DOC_LIMIT:
        return minhash_verify(candidates, hs, use_broadcast=True)
    return minhash_verify(
        candidates, minhash_hash_table_bucketed(spark, sf_dir), use_broadcast=False
    )


CHUNK_WORDS = 10     # segment width for cross-doc repeated-chunk removal
CHUNK_DOCFREQ_MAX = 2  # a chunk present in more docs than this is boilerplate


@query("dedup_lines", oracle=f"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, CAST(i AS INT) AS pos,
             array_to_string(ws[(i*{CHUNK_WORDS}+1):((i+1)*{CHUNK_WORDS})], ' ') AS chunk
      FROM w, unnest(range(CAST(ceil(len(ws) / {CHUNK_WORDS}.0) AS BIGINT))) AS t(i)
    ),
    bad AS (
      SELECT chunk FROM chunks GROUP BY chunk
      HAVING count(DISTINCT doc_id) > {CHUNK_DOCFREQ_MAX}
    ),
    kept AS (
      SELECT c.doc_id, c.pos, c.chunk FROM chunks c
      ANTI JOIN bad b ON c.chunk = b.chunk
    )
    SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS text_clean,
           CAST(count(*) AS INT) AS n_kept
    FROM kept GROUP BY doc_id
""")
def dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-segment removal (the C4 'line dedup' rule:
    drop any line occurring in ≥ 3 documents corpus-wide, keep the rest
    of the document). The fixture text has no newlines, so the segment
    unit is a fixed CHUNK_WORDS-word chunk; the pipeline shape is
    identical for natural lines.

    Plan: explode docs into (doc_id, pos, chunk); one shuffle counts each
    chunk's document frequency (map-side combinable); boilerplate chunks
    (doc-freq > CHUNK_DOCFREQ_MAX) anti-join away; a final groupBy
    reassembles surviving chunks in order. At 100 TB the frequency table
    is heavy-hitter-sized after a min-count threshold, so the anti-join
    broadcasts; documents never pair with each other — all shuffles are
    keyed on the chunk text or doc_id, never doc×doc."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.ceil(F.size(words) / CHUNK_WORDS).cast("int")
    chunks = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice(words, i * CHUNK_WORDS + 1, CHUNK_WORDS), " "
                ),
            )
        ).alias("pos", "chunk"),
    )
    bad = (
        chunks.groupBy("chunk")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") > CHUNK_DOCFREQ_MAX)
        .select("chunk")
    )
    kept = chunks.join(bad, on="chunk", how="left_anti")
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "chunk"))), lambda s: s["chunk"]
    )
    return kept.groupBy("doc_id").agg(
        F.array_join(ordered, " ").alias("text_clean"),
        F.count(F.lit(1)).cast("int").alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# LSH banding recall curve (r8) — the near-dup family's completeness critic
# ---------------------------------------------------------------------------

LSH_EVAL_MOD = 10           # eval sample: doc_id % 10 == 0 (500 docs at sf0.01)
LSH_EVAL_PCTS = (5, 10, 20, 30, 50, 70)  # nominal prefix-overlap levels


@query("dedup_lsh_recall_curve", oracle=f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id, {_DUCK_BIGRAMS} AS sh
      FROM documents WHERE doc_id % {LSH_EVAL_MOD} = 0
    ),
    based AS (
      SELECT doc_id, len(sh) AS n,
             list_transform(sh, s ->
               CAST('0x' || substr(md5('0' || ':' || s), 1, 15) AS BIGINT)
               % {MINHASH_P}) AS base
      FROM t WHERE len(sh) > 0
    ),
    var AS (
      SELECT doc_id, n, pct,
             greatest(1, (n * pct) // 100) AS k,
             base[1:CAST(greatest(1, (n * pct) // 100) AS BIGINT)] AS vbase,
             10000 * greatest(1, (n * pct) // 100) // n AS j_bp,
             base
      FROM based, (SELECT unnest([{", ".join(str(p) for p in LSH_EVAL_PCTS)}]) AS pct)
    ),
    sigo AS (
      SELECT doc_id,
             list_transform(range(0, {N_MINHASH}), i ->
               list_min(list_transform(base, h ->
                 ((2*i + 1) * h + 40503*i + 1231) % {MINHASH_P}))) AS sig
      FROM based
    ),
    sigv AS (
      SELECT doc_id, pct, j_bp,
             list_transform(range(0, {N_MINHASH}), i ->
               list_min(list_transform(vbase, h ->
                 ((2*i + 1) * h + 40503*i + 1231) % {MINHASH_P}))) AS sig
      FROM var
    ),
    bando AS (
      SELECT doc_id, u.b AS band,
             md5(CAST(sig[2*u.b + 1] AS VARCHAR) || ',' ||
                 CAST(sig[2*u.b + 2] AS VARCHAR)) AS bucket
      FROM sigo, (SELECT unnest(range(0, {LSH_BANDS})) AS b) u
    ),
    bandv AS (
      SELECT doc_id, pct, u.b AS band,
             md5(CAST(sig[2*u.b + 1] AS VARCHAR) || ',' ||
                 CAST(sig[2*u.b + 2] AS VARCHAR)) AS bucket
      FROM sigv, (SELECT unnest(range(0, {LSH_BANDS})) AS b) u
    ),
    caught AS (
      SELECT DISTINCT v.doc_id, v.pct
      FROM bandv v JOIN bando o
        ON o.doc_id = v.doc_id AND o.band = v.band AND o.bucket = v.bucket
    )
    SELECT v.pct AS nominal_pct,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_caught,
           CAST(sum(v.j_bp) AS BIGINT) AS sum_j_bp,
           round(CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS recall
    FROM var v
    LEFT JOIN caught c ON c.doc_id = v.doc_id AND c.pct = v.pct
    GROUP BY v.pct
""")
def dedup_lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding recall curve (new r8) — the completeness critic of the
    near-dup family, the ann_recall_eval discipline applied to
    dedup_minhash_lsh's candidate stage: what fraction of TRUE
    Jaccard-similar pairs does the configured {LSH_BANDS}x{LSH_ROWS}
    banding actually surface, per similarity level?

    The fixture corpus has no mid-similarity pairs (its 25 true pairs
    all sit at j >= 0.9, where the banding's miss bound is ~4e-10 and a
    measured recall of 1.0 proves nothing), so the evaluator builds its
    own controlled ground truth: for each sampled doc (doc_id %
    {LSH_EVAL_MOD} = 0) and each nominal level f in {LSH_EVAL_PCTS}%, a
    PREFIX VARIANT keeps the first max(1, floor(f*n/100)) of the doc's n
    sorted shingles — a subset, so true Jaccard(variant, doc) = k/n
    exactly, recorded per pair as j_bp. Both the variant construction
    and the full MinHash+banding replay are deterministic md5/affine
    arithmetic, so the DuckDB oracle reproduces the measurement
    bit-for-bit — the harness proves the evaluator itself.

    The S-curve this emits (collision prob ~= 1-(1-j^2)^{LSH_BANDS}:
    ~5% at j=0.05, ~27% at 0.10, ~73% at 0.20, ~95% at 0.30, ~1 past
    0.50) is the honesty artifact the banding config ships with: it
    quantifies exactly what sub-threshold similarity the pipeline
    ignores, the way ann_recall_eval quantifies IVF pruning loss.

    Scale shape: the eval is sample-bounded (|sample| x |levels| rows,
    each a bounded array), band matching is an equi-join on (doc, band,
    bucket) — no all-pairs anywhere; at 100 TB the same eval runs on a
    fixed-size sampled slice, cost independent of corpus size."""
    # n > 0 in BOTH texts: a token-free doc has an empty shingle set,
    # where DuckDB's list_min([]) yields NULL while the Spark minhash
    # fold's empty-input value is unpinned — exclude degenerate docs
    # from the eval population by construction (r8 ADVICE).
    d = (
        doc_shingles(spark, sf_dir)
        .filter(F.col("doc_id") % LSH_EVAL_MOD == 0)
        .filter(F.size("sh") > 0)
    )
    based = _barrier(
        d.select(
            "doc_id",
            F.size("sh").cast("bigint").alias("n"),
            minhash_base(F.col("sh")).alias("base"),
        )
    )
    var = (
        based.select(
            "doc_id",
            "n",
            "base",
            F.explode(F.array(*[F.lit(p) for p in LSH_EVAL_PCTS])).alias("pct"),
        )
        .withColumn("k", F.greatest(F.lit(1).cast("bigint"), F.expr("n * pct DIV 100")))
        .withColumn("vbase", F.expr("slice(base, 1, CAST(k AS INT))"))
        .withColumn("j_bp", F.expr("10000 * k DIV n"))
    )
    sigo = based.select("doc_id", minhash_signature(F.col("base")).alias("sig"))
    sigv = _barrier(
        var.select("doc_id", "pct", "j_bp", minhash_signature(F.col("vbase")).alias("sig"))
    )

    def bands_of(df: DataFrame, extra: list) -> DataFrame:
        return df.select(
            *extra,
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                F.slice(
                                    F.col("sig"), b * LSH_ROWS + 1, LSH_ROWS
                                ).cast("array<string>"),
                            )
                        ).alias("bucket"),
                    ),
                )
            ).alias("bb"),
        ).select(*extra, "doc_id", "bb.band", "bb.bucket")

    bando = bands_of(sigo, [])
    bandv = bands_of(sigv, ["pct"])
    caught = (
        bandv.alias("v")
        .join(
            bando.alias("o"),
            (F.col("o.doc_id") == F.col("v.doc_id"))
            & (F.col("o.band") == F.col("v.band"))
            & (F.col("o.bucket") == F.col("v.bucket")),
        )
        .select(F.col("v.doc_id").alias("doc_id"), F.col("v.pct").alias("pct"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        var.select("doc_id", "pct", "j_bp")
        .join(caught, ["doc_id", "pct"], "left")
        .groupBy(F.col("pct").alias("nominal_pct"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_caught"),
            F.sum("j_bp").cast("bigint").alias("sum_j_bp"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup (r9) — the token-window granularity of the
# exact family (Lee et al. 2022, "Deduplicating Training Data Makes
# Language Models Better": suffix-array exact-substring dedup). The
# distributed shape replaces the suffix array with rolling k-token
# window hashes: any document sharing ANY window with a lower-id
# document is flagged — between dedup_exact (whole doc), dedup_lines
# (line chunks), and dedup_ngram_jaccard (bag overlap), this is the
# contiguous-span detector that catches boilerplate injected inside
# otherwise-unique documents.
# ---------------------------------------------------------------------------

SUBSTR_W = 8    # tokens per window (Lee et al. use 50 BPE tokens; the
                # fixture docs are ~30-80 words, so 8 keeps multiple
                # windows per doc while staying selective on the
                # 31-word synthetic vocabulary)


@query("dedup_substring", oracle=rf"""
    WITH tk AS (
      SELECT doc_id,
             list_transform(list_filter(regexp_split_to_array(trim(text),
               '\s+'), x -> x <> ''), x -> lower(x)) AS w
      FROM documents
    ),
    win AS (
      SELECT doc_id,
             unnest(list_transform(range(0, len(w) - {SUBSTR_W} + 1),
               i -> md5(array_to_string(w[i + 1 : i + {SUBSTR_W}], ' ')))) AS h
      FROM tk WHERE len(w) >= {SUBSTR_W}
    ),
    owner AS (SELECT h, min(doc_id) AS owner FROM win GROUP BY h),
    flags AS (
      SELECT win.doc_id,
             CAST(count(*) AS BIGINT) AS n_windows,
             CAST(sum(CASE WHEN o.owner < win.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_shared
      FROM win JOIN owner o USING (h)
      GROUP BY win.doc_id
    )
    SELECT tk.doc_id,
           COALESCE(f.n_windows, 0) AS n_windows,
           COALESCE(f.n_shared, 0) AS n_shared,
           COALESCE(f.n_shared, 0) > 0 AS is_dup
    FROM tk LEFT JOIN flags f USING (doc_id)
""")
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup via rolling {SUBSTR_W}-token window hashes:
    every document emits md5 hashes of its consecutive token windows;
    windows group by hash to find their minimum-doc-id owner; a doc
    with any window owned by an earlier doc is flagged (n_shared
    counts its borrowed windows). Docs shorter than {SUBSTR_W} tokens
    carry zero windows and are never flagged.

    Exactness: md5 over the space-joined window (proven identical
    cross-engine), integer counts, boolean flag — no float anywhere.
    DuckDB 1-based list slice w[i+1 : i+{SUBSTR_W}] ≡ Spark
    slice(w, i+1, {SUBSTR_W}) (both length-{SUBSTR_W} from 0-based i).

    Scale shape: windows/doc is linear in doc length; the owner
    resolution is ONE map-side-combinable min-groupBy keyed on the
    window hash (uniform md5 keys — no skew), and the flag join is
    keyed on the same hash — never doc×doc. This is the Spark-native
    replacement for the suffix-array pass in Lee et al.: same spans
    caught at window granularity, embarrassingly parallel, no global
    sort. At 100 TB the window table is the big intermediate (~L
    hashes per doc); a length-{SUBSTR_W} stride or Bloom pre-filter
    halves it when needed — documented, not silently applied."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.transform(
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda x: x != ""),
        lambda x: F.lower(x),
    )
    tk = _barrier(d.select("doc_id", toks.alias("w")))
    win = tk.filter(F.size("w") >= SUBSTR_W).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - SUBSTR_W),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice(F.col("w"), i + 1, SUBSTR_W))
                ),
            )
        ).alias("h"),
    )
    owner = win.groupBy("h").agg(F.min("doc_id").alias("owner"))
    flags = (
        win.join(owner, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum((F.col("owner") < F.col("doc_id")).cast("bigint"))
            .cast("bigint")
            .alias("n_shared"),
        )
    )
    return tk.select("doc_id").join(flags, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_windows", F.lit(0)).cast("bigint").alias("n_windows"),
        F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
        (F.coalesce("n_shared", F.lit(0)) > 0).alias("is_dup"),
    )
