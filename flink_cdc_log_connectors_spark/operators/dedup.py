"""Deduplication operators for large-scale training-data pipelines.

Four families, all shuffle-conscious:

- **Exact** — hash-groupBy on a fingerprint (md5).  One shuffle keyed by
  the 128-bit hash; no skew (hash keys are uniform).
- **Exact n-gram Jaccard** — inverted-index self-join on word-shingles:
  only pairs sharing ≥1 shingle are ever materialized (Jaccard > 0 ⇒ a
  shared shingle, so this is exact, not approximate).  The shuffle is keyed
  by shingle; ``max_shingle_df`` drops ultra-frequent shingles to bound
  skew at scale (a lossy-but-documented knob, off by default).
- **MinHash + LSH** — shingle → 32 minhashes → 8 bands × 4 rows →
  band-bucket self-join for candidates → exact Jaccard verification.
  The scale path: candidate generation touches only band-equal pairs.
- **SimHash** — 60-bit fingerprint; near-dup pairs found by 4×15-bit
  band equality (any pair within Hamming distance 3 shares a band;
  wider distances probabilistically) then exact Hamming verification
  via ``bit_count(xor)``.

All hashes are the portable md5-60 (``functions.text.md5_60``), so even
the "probabilistic" LSH families are DETERMINISTIC and oracle-exact:
DuckDB reproduces the identical signatures, candidates, and verdicts.
Everything else is built-in Catalyst expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..caching import persist_tracked
from ..functions.text import (
    TOKENS_SQL,
    hashed_word_ngrams,
    ngrams_sql,
    tokens,
    word_ngrams,
)
from ..io import load_table

# --------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# --------------------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct text: its md5 fingerprint, the surviving
    (minimum) id, and the duplicate count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fp"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def dedup_exact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs).orderBy("keep_id")


DEDUP_EXACT_SQL = """
SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY md5(text) ORDER BY keep_id
"""


# --------------------------------------------------------------------------
# Shingling + exact n-gram Jaccard via inverted index
# --------------------------------------------------------------------------


def shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, shingle) rows of distinct word n-grams per document."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(tokens(F.col(text_col)), n)).alias("sh"),
    )


def auto_shingle_cap(n_docs: int) -> int:
    """Default document-frequency cap for inverted-index shingles:
    ``max(100, n_docs // 100)``.  A shingle present in more than 1% of a
    large corpus (or >100 docs of a small one) is boilerplate — it carries
    no dedup signal but creates an O(df²) bucket in the pair join, the
    classic quadratic skew blowup at 100 TB.  Integer arithmetic so the
    Spark and DuckDB twins derive bit-identical caps."""
    return max(100, n_docs // 100)


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | str | None = "auto",
    doc_sets: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs (jaccard >= num/den) via inverted index.

    The threshold test is done in integer cross-multiplication
    (``den*common >= num*union``) — no float comparisons; the reported
    ``jaccard`` is a single IEEE division (cross-engine deterministic).
    The self-join runs on hashed (8-byte) shingle keys.

    ``max_shingle_df`` bounds join skew: shingles appearing in more
    documents are dropped before the self-join and Jaccard is computed
    over the surviving (informative) shingles.  Default ``"auto"`` =
    :func:`auto_shingle_cap`; pass ``None`` for the uncapped exact join
    (safe only when the corpus is known boilerplate-free — an O(Σdf²)
    blowup risk otherwise).
    """
    # The shingle-set UDF pass runs ONCE (persisted); set sizes come from
    # the array length — no shuffle — instead of re-aggregating the
    # exploded rows (that extra 2.5M-row exchange was ~25% of the query).
    # AQE broadcasts the per-doc size table when it is small and falls
    # back to a shuffled join at scale — no hint needed.
    if doc_sets is None:
        doc_sets = persist_tracked(
            df.select(
                F.col(id_col).alias("doc_id"),
                hashed_word_ngrams(F.col(text_col), n).alias("shset"),
            )
        )
    sh = doc_sets.select("doc_id", F.explode("shset").alias("sh"))
    cap = max_shingle_df
    if cap == "auto":
        cap = auto_shingle_cap(doc_sets.count())
    if cap is not None:
        # anti-join against the HOT set, not a join against the keep set:
        # hot shingles number ≤ total_rows/cap by construction — tiny and
        # broadcastable — while the keep set is nearly all shingles.
        # Persisted so the df-aggregation runs once, not per join branch.
        hot = persist_tracked(
            sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > cap)
            .select("sh")
        )
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")
        # sizes must reflect the FILTERED shingle sets
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    else:
        sizes = doc_sets.select("doc_id", F.size("shset").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    return (
        common.join(s1, F.col("d1") == F.col("s1.doc_id"))
        .join(s2, F.col("d2") == F.col("s2.doc_id"))
        .withColumn("union_sz", F.col("s1.n_sh") + F.col("s2.n_sh") - F.col("common"))
        .filter(F.lit(threshold_den) * F.col("common") >= F.lit(threshold_num) * F.col("union_sz"))
        .select(
            "d1",
            "d2",
            "common",
            "union_sz",
            (F.col("common").cast("double") / F.col("union_sz")).alias("jaccard"),
        )
    )


#: Process-level caches of deterministic dedup intermediates, keyed by
#: (application, sf_dir, params).  Semantically these are MATERIALIZED
#: VIEWS over an immutable corpus: the shingle-set pass feeds three
#: different dedup families and the exact pair set feeds both
#: dedup_ngram_jaccard and dedup_clusters, so the second consumer reuses
#: the first's work instead of re-running a multi-second UDF/join.
#: Materialized with ``localCheckpoint(eager=True)`` — NOT the tracked
#: persist — because workload drivers drop tracked persists between
#: queries (``caching.release_intermediates``); a checkpoint survives,
#: which is exactly the materialized-view contract.  Both intermediates
#: are small (pairs: O(duplicate pairs); shingle sets: ~per-doc arrays),
#: so pinning them for the app lifetime is cheap at any SF — at 100 TB
#: the same role is played by writing the shingle table to storage once.
_SHINGLES_CACHE: dict[tuple, DataFrame] = {}
_PAIRS_CACHE: dict[tuple, DataFrame] = {}
_SIG_CACHE: dict[tuple, DataFrame] = {}


def cached_doc_shingles(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """(doc_id, shset) with the md5-60 shingle hashes, computed once per
    (session, corpus): the shared input of the jaccard/minhash families."""
    key = (spark.sparkContext.applicationId, sf_dir, n)
    ds = _SHINGLES_CACHE.get(key)
    if ds is None:
        docs = load_table(spark, sf_dir, "documents")
        ds = docs.select(
            F.col("doc_id"),
            hashed_word_ngrams(F.col("text"), n).alias("shset"),
        ).localCheckpoint(eager=True)
        _SHINGLES_CACHE[key] = ds
    return ds


#: (application, sf_dir, n) → (common-pair counts, filtered set sizes):
#: the UNTHRESHOLDED inverted-index join output, shared by every pairwise
#: family (jaccard, containment) — the join is the expensive stage and is
#: identical up to the final threshold, so it runs once per corpus
#: snapshot.  Materializing it is the multi-consumer stance (same as the
#: pair cache): at extreme scale with a single consumer, fuse the
#: threshold into the aggregation instead and skip the materialization.
_COMMON_CACHE: dict[tuple, tuple[DataFrame, DataFrame]] = {}


def cached_common_counts(
    spark: SparkSession, sf_dir: str, n: int = 3
) -> tuple[DataFrame, DataFrame]:
    key = (spark.sparkContext.applicationId, sf_dir, n)
    cached = _COMMON_CACHE.get(key)
    if cached is None:
        doc_sets = cached_doc_shingles(spark, sf_dir, n)
        sh = doc_sets.select("doc_id", F.explode("shset").alias("sh"))
        cap = auto_shingle_cap(doc_sets.count())
        hot = (
            sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > cap)
            .select("sh")
        )
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")
        sizes = sh.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_sh")
        ).localCheckpoint(eager=True)
        a, b = sh.alias("a"), sh.alias("b")
        common = (
            a.join(
                b,
                (F.col("a.sh") == F.col("b.sh"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
            .agg(F.count(F.lit(1)).alias("common"))
            .localCheckpoint(eager=True)
        )
        cached = (common, sizes)
        _COMMON_CACHE[key] = cached
    return cached


def cached_ngram_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 5,
) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, n, threshold_num, threshold_den)
    pairs = _PAIRS_CACHE.get(key)
    if pairs is None:
        # same arithmetic as ngram_jaccard_pairs, applied to the shared
        # unthresholded join output
        common, sizes = cached_common_counts(spark, sf_dir, n)
        s1, s2 = sizes.alias("s1"), sizes.alias("s2")
        pairs = (
            common.join(s1, F.col("d1") == F.col("s1.doc_id"))
            .join(s2, F.col("d2") == F.col("s2.doc_id"))
            .withColumn(
                "union_sz", F.col("s1.n_sh") + F.col("s2.n_sh") - F.col("common")
            )
            .filter(
                F.lit(threshold_den) * F.col("common")
                >= F.lit(threshold_num) * F.col("union_sz")
            )
            .select(
                "d1", "d2", "common", "union_sz",
                (F.col("common").cast("double") / F.col("union_sz")).alias(
                    "jaccard"
                ),
            )
            .localCheckpoint(eager=True)
        )
        _PAIRS_CACHE[key] = pairs
    return pairs


def dedup_ngram_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cached_ngram_pairs(spark, sf_dir).orderBy("d1", "d2")


#: DuckDB twin of the auto cap — same integer arithmetic
SHINGLE_CAP_SQL = "greatest(100, (SELECT count(*) FROM documents) // 100)"

#: shared oracle CTE prefix: distinct tri-shingles, hot-shingle cap, sizes
#: over the SURVIVING shingles — mirrors ngram_jaccard_pairs exactly
NGRAM_KEPT_CTE = f"""
tri AS (
  SELECT doc_id, unnest({ngrams_sql("text", 3)}) AS sh FROM documents
),
hot AS (
  SELECT sh FROM tri GROUP BY sh HAVING count(*) > {SHINGLE_CAP_SQL}
),
kept AS (SELECT doc_id, sh FROM tri ANTI JOIN hot USING (sh)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""

DEDUP_NGRAM_SQL = f"""
WITH {NGRAM_KEPT_CTE}
SELECT d1, d2, common, s1.n_sh + s2.n_sh - common AS union_sz,
       CAST(common AS DOUBLE) / (s1.n_sh + s2.n_sh - common) AS jaccard
FROM common JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
WHERE 5 * common >= 1 * (s1.n_sh + s2.n_sh - common)
ORDER BY d1, d2
"""


# --------------------------------------------------------------------------
# MinHash + LSH (candidate generation at scale) + exact verification
# --------------------------------------------------------------------------

NUM_HASHES = 32
BANDS = 8
ROWS_PER_BAND = NUM_HASHES // BANDS

#: Mersenne prime 2^61-1 — modulus of the permutation family
MINHASH_P = (1 << 61) - 1

# Fixed seeded coefficients for the 2-universal permutation family
# h_i(x) = (a_i*x1 + b_i*x2 + c_i) mod P over the split halves of the
# 60-bit shingle hash (x1 = top 30 bits, x2 = low 30 bits).  a,b < 2^29
# keeps every product < 2^59 and the sum < 2^62 — no 64-bit overflow, so
# the SAME arithmetic runs under Spark's ANSI mode and in DuckDB, making
# signatures (and therefore LSH candidates) bit-identical across engines.
# (xxhash64 permutations were cheaper to type but unportable — the reason
# this family was swapped in; a plain wrap-around a*h+b is forbidden by
# ANSI overflow checks.)
import random as _random

_rng = _random.Random(0x20260813)
MINHASH_A = [_rng.randrange(1, 1 << 29) for _ in range(NUM_HASHES)]
MINHASH_B = [_rng.randrange(1, 1 << 29) for _ in range(NUM_HASHES)]
MINHASH_C = [_rng.randrange(0, MINHASH_P) for _ in range(NUM_HASHES)]
del _rng

_LOW30 = (1 << 30) - 1


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """32 minhash values per doc over 60-bit hashed shingles, via the
    portable universal-hash family above.  Pure codegen arithmetic (three
    mults + mod per permutation); partial aggregation makes this one
    map-side-combined shuffle on doc_id."""
    from ..functions.prepared import prepared

    def build():
        x1 = F.shiftrightunsigned(F.col("sh"), 30)
        x2 = F.col("sh").bitwiseAND(F.lit(_LOW30))
        return [
            F.min(
                (
                    F.lit(MINHASH_A[i]) * x1
                    + F.lit(MINHASH_B[i]) * x2
                    + F.lit(MINHASH_C[i])
                )
                % F.lit(MINHASH_P)
            ).alias(f"h{i}")
            for i in range(NUM_HASHES)
        ]

    # memoized (r13): ~300 py4j round-trips per rebuild, and the ingest
    # witnesses rebuilt it every epoch
    aggs = prepared(("minhash_aggs", NUM_HASHES), build)
    return sh.groupBy("doc_id").agg(*aggs)


def _band_bucket(b: int, rows_per_band: int = ROWS_PER_BAND):
    """Bucket key of band ``b``: its ``rows_per_band`` signature values
    packed mod 2^15 into one positive integer (≤ 60 bits at r=4) — the
    standard hash-band-to-bucket step, in overflow-free portable
    arithmetic (each term < 2^60, total < 2^61).  Collisions only ADD
    candidates, and candidates are exactly verified, so bucket packing
    never costs correctness."""
    if rows_per_band > 4:
        raise ValueError(
            f"band packing holds at most 4 rows per band in a 64-bit "
            f"bucket (got {rows_per_band}); plan with "
            f"lsh_plan(..., max_rows_per_band=4)"
        )
    terms = None
    for r in range(rows_per_band):
        t = (F.col(f"h{b * rows_per_band + r}") % F.lit(1 << 15)) * F.lit(
            1 << (15 * (rows_per_band - 1 - r))
        )
        terms = t if terms is None else terms + t
    return terms


def lsh_candidates(sig: DataFrame, bands: int = BANDS) -> DataFrame:
    """Band-bucket self-join: pairs agreeing on at least one band bucket.
    The melted rows are skinny (doc_id, band_idx, bh) — the shuffle is
    3 longs per (doc, band), independent of signature width.

    ``bands`` must divide ``NUM_HASHES``; the (bands, rows) choice sets
    the S-curve threshold ``(1/b)^(1/r)`` — pick it with
    :func:`lsh_plan` (the ``minhash_dedup_pairs`` default does)."""
    if bands <= 0 or bands > NUM_HASHES or NUM_HASHES % bands:
        # a silent non-divisor would band over fewer/misaligned hash
        # columns than planned (and bands > NUM_HASHES would crash
        # obscurely inside _band_bucket)
        raise ValueError(
            f"bands must be a positive divisor of NUM_HASHES="
            f"{NUM_HASHES}, got {bands}"
        )
    rows_per_band = NUM_HASHES // bands
    melted = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        _band_bucket(b, rows_per_band).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "e.band_idx", "e.bh")
    a = melted.alias("a")
    b = melted.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    doc_sets: DataFrame | None = None,
    sig: DataFrame | None = None,
    bands: int | None = None,
) -> DataFrame:
    """LSH candidates, then EXACT Jaccard verification on the candidates
    only (array_intersect on per-doc shingle sets).  Probabilistic recall
    from banding; verified pairs carry exact similarities.

    ``bands=None`` (the default) picks the banding from the VERIFY
    threshold via :func:`lsh_plan`: the S-curve threshold ``(1/b)^(1/r)``
    lands nearest ``threshold_num/threshold_den``, so candidate recall is
    matched to what verification will keep.  (The historical fixed 8×4
    geometry has S-curve threshold 0.59 — at the default verify threshold
    0.2 it recalls a 0.4-Jaccard pair with probability ≈0.19 vs ≈0.94
    under the planned 16×2; pass ``bands=BANDS`` to pin the fixed
    geometry, as the oracle-checked registry entries do.)

    The shingle-set UDF output is kept as an ARRAY column, persisted
    (MEMORY_AND_DISK, Spark evicts LRU), and reused by the three plan
    branches that need it (signature explode + both verification joins) —
    without the persist each branch re-runs the UDF pass."""
    if bands is None:
        # max_rows_per_band=4: the 15-bit band packing holds ≤4 rows in a
        # 64-bit bucket (high thresholds would otherwise plan r=8+ and
        # overflow the packed literal)
        bands = lsh_plan(
            threshold_num / threshold_den, NUM_HASHES, max_rows_per_band=4
        )[0]
    if doc_sets is None:
        doc_sets = persist_tracked(
            df.select(
                F.col(id_col).alias("doc_id"),
                hashed_word_ngrams(F.col(text_col), n).alias("shset"),
            )
        )
    if sig is None:
        sh = doc_sets.select("doc_id", F.explode("shset").alias("sh"))
        sig = minhash_signatures(sh)
    cand = lsh_candidates(sig, bands)
    d1 = doc_sets.alias("d1")
    d2 = doc_sets.alias("d2")
    return (
        cand.join(d1, cand.d1 == F.col("d1.doc_id"))
        .join(d2, cand.d2 == F.col("d2.doc_id"))
        .withColumn(
            "common", F.size(F.array_intersect(F.col("d1.shset"), F.col("d2.shset")))
        )
        .withColumn(
            "union_sz",
            F.size(F.col("d1.shset")) + F.size(F.col("d2.shset")) - F.col("common"),
        )
        .filter(
            F.lit(threshold_den) * F.col("common")
            >= F.lit(threshold_num) * F.col("union_sz")
        )
        .select(
            "d1.doc_id",
            "d2.doc_id",
            "common",
            "union_sz",
            (F.col("common").cast("double") / F.col("union_sz")).alias("jaccard"),
        )
        .toDF("d1", "d2", "common", "union_sz", "jaccard")
    )


def cached_minhash_signatures(
    spark: SparkSession, sf_dir: str, n: int = 3
) -> DataFrame:
    """Per-doc minhash signatures computed once per (session, corpus) —
    shared by the LSH dedup and the accuracy audit (the signature
    aggregation is their common most-expensive stage)."""
    key = (spark.sparkContext.applicationId, sf_dir, n)
    sig = _SIG_CACHE.get(key)
    if sig is None:
        doc_sets = cached_doc_shingles(spark, sf_dir, n)
        sh = doc_sets.select("doc_id", F.explode("shset").alias("sh"))
        sig = minhash_signatures(sh).localCheckpoint(eager=True)
        _SIG_CACHE[key] = sig
    return sig


def dedup_minhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # bands pinned: the oracle re-derives the fixed 8×4 geometry in SQL, so
    # the checked result must not float with the planner (the planner
    # default is covered by tests/test_lsh_planner.py)
    return minhash_dedup_pairs(
        docs,
        doc_sets=cached_doc_shingles(spark, sf_dir, 3),
        sig=cached_minhash_signatures(spark, sf_dir, 3),
        bands=BANDS,
    ).orderBy("d1", "d2")


def dedup_minhash_planned_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PLANNED MinHash geometry under a full value oracle: bands
    pinned to ``lsh_plan(0.2, 32)``'s answer (16×2, S-curve threshold
    0.25) — the geometry ``minhash_dedup_pairs`` now defaults to at the
    registry's verify threshold.  Shares the shingle/signature caches
    with ``dedup_minhash_lsh``; only the banding (and hence the
    candidate set — a superset, see tests/test_lsh_planner.py) differs."""
    docs = load_table(spark, sf_dir, "documents")
    assert lsh_plan(0.2, NUM_HASHES)[:2] == (16, 2)
    return minhash_dedup_pairs(
        docs,
        doc_sets=cached_doc_shingles(spark, sf_dir, 3),
        sig=cached_minhash_signatures(spark, sf_dir, 3),
        bands=16,
    ).orderBy("d1", "d2")


def _minhash_sql(bands: int = BANDS) -> str:
    """DuckDB twin of the FULL minhash pipeline — shingle hash (md5-60),
    32 universal-hash minima, band-bucket packing, candidate join, exact
    Jaccard verification — parameterized by band count so the PLANNED
    geometry (``lsh_plan``'s 16×2 at the default threshold) is checkable
    alongside the historical 8×4.  Deterministic because every stage is:
    the coefficients are interpolated from the same module constants the
    Spark plan uses, so the two engines compute identical signatures."""
    rows_per_band = NUM_HASHES // bands
    if rows_per_band > 4:
        raise ValueError(
            f"band packing holds at most 4 rows per band in a 64-bit "
            f"bucket (got {rows_per_band})"
        )
    sig_cols = ",\n    ".join(
        f"min(({MINHASH_A[i]}*(sh>>30) + {MINHASH_B[i]}*(sh & {_LOW30}) + "
        f"{MINHASH_C[i]}) % {MINHASH_P}) AS h{i}"
        for i in range(NUM_HASHES)
    )
    band_rows = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS k, {pack} AS bh FROM sig".format(
            b=b,
            pack=" + ".join(
                f"(h{b * rows_per_band + r} % 32768) * "
                f"{1 << (15 * (rows_per_band - 1 - r))}"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return f"""
WITH tri AS (
  SELECT doc_id, unnest({ngrams_sql("text", 3)}) AS g FROM documents
),
hs AS (SELECT doc_id, ('0x' || substring(md5(g), 1, 15))::BIGINT AS sh FROM tri),
sig AS (
  SELECT doc_id,
    {sig_cols}
  FROM hs GROUP BY doc_id
),
bands AS (
  {band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.k = b.k AND a.bh = b.bh AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM tri GROUP BY doc_id),
common AS (
  SELECT c.d1, c.d2, count(*) AS common
  FROM cand c JOIN tri a ON a.doc_id = c.d1
              JOIN tri b ON b.doc_id = c.d2 AND b.g = a.g
  GROUP BY c.d1, c.d2
)
SELECT d1, d2, common,
       s1.n_sh + s2.n_sh - common AS union_sz,
       CAST(common AS DOUBLE) / (s1.n_sh + s2.n_sh - common) AS jaccard
FROM common JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
WHERE 5 * common >= 1 * (s1.n_sh + s2.n_sh - common)
ORDER BY d1, d2
"""


def minhash_accuracy_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator audit for the LSH path: for every candidate pair, the
    minhash-ESTIMATED Jaccard (fraction of agreeing signature positions)
    next to the EXACT shingle Jaccard, with the absolute error — the
    quality gate that tells a pipeline whether 32 permutations / 8 bands
    is enough before trusting ``dedup_minhash_lsh`` at full scale.

    Scale shape: identical stages to ``dedup_minhash_lsh`` (signature agg
    is one map-side-combined shuffle; candidates from the banded
    self-join; exact verification touches candidates only) plus a
    signature re-join that is k longs per doc.  Deterministic end to end
    (fixed permutation family), hence the full value oracle."""
    doc_sets = cached_doc_shingles(spark, sf_dir, 3)
    # shared with dedup_minhash_lsh — the signature agg computes once per
    # (session, corpus) and serves banding + the per-pair agreement join
    sig = cached_minhash_signatures(spark, sf_dir, 3)
    cand = lsh_candidates(sig)
    s1, s2 = sig.alias("s1"), sig.alias("s2")
    agree = sum(
        F.when(F.col(f"s1.h{i}") == F.col(f"s2.h{i}"), 1).otherwise(0)
        for i in range(NUM_HASHES)
    )
    d1, d2 = doc_sets.alias("e1"), doc_sets.alias("e2")
    est = agree.cast("double") / F.lit(float(NUM_HASHES))
    exact = F.col("common").cast("double") / F.col("union_sz")
    return (
        cand.join(s1, cand.d1 == F.col("s1.doc_id"))
        .join(s2, cand.d2 == F.col("s2.doc_id"))
        .withColumn("est_jaccard", est)
        .join(d1, cand.d1 == F.col("e1.doc_id"))
        .join(d2, cand.d2 == F.col("e2.doc_id"))
        .withColumn(
            "common",
            F.size(F.array_intersect(F.col("e1.shset"), F.col("e2.shset"))),
        )
        .withColumn(
            "union_sz",
            F.size(F.col("e1.shset")) + F.size(F.col("e2.shset"))
            - F.col("common"),
        )
        .select(
            "d1",
            "d2",
            F.round(F.col("est_jaccard"), 6).alias("est_jaccard"),
            F.round(exact, 6).alias("jaccard"),
            F.round(F.abs(F.col("est_jaccard") - exact), 6).alias("abs_err"),
        )
        .orderBy("d1", "d2")
    )


def _minhash_accuracy_sql() -> str:
    """DuckDB twin: same signatures/bands as ``_minhash_sql`` plus the
    per-pair signature-agreement count."""
    sig_cols = ",\n    ".join(
        f"min(({MINHASH_A[i]}*(sh>>30) + {MINHASH_B[i]}*(sh & {_LOW30}) + "
        f"{MINHASH_C[i]}) % {MINHASH_P}) AS h{i}"
        for i in range(NUM_HASHES)
    )
    band_rows = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS k, {pack} AS bh FROM sig".format(
            b=b,
            pack=" + ".join(
                f"(h{b * ROWS_PER_BAND + r} % 32768) * "
                f"{1 << (15 * (ROWS_PER_BAND - 1 - r))}"
                for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(BANDS)
    )
    agree = " + ".join(
        f"CASE WHEN x.h{i} = y.h{i} THEN 1 ELSE 0 END"
        for i in range(NUM_HASHES)
    )
    return f"""
WITH tri AS (
  SELECT doc_id, unnest({ngrams_sql("text", 3)}) AS g FROM documents
),
hs AS (SELECT doc_id, ('0x' || substring(md5(g), 1, 15))::BIGINT AS sh FROM tri),
sig AS (
  SELECT doc_id,
    {sig_cols}
  FROM hs GROUP BY doc_id
),
bands AS (
  {band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.k = b.k AND a.bh = b.bh AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.d1, c.d2, ({agree}) / {float(NUM_HASHES)} AS est_jaccard
  FROM cand c JOIN sig x ON x.doc_id = c.d1 JOIN sig y ON y.doc_id = c.d2
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM tri GROUP BY doc_id),
common AS (
  SELECT c.d1, c.d2, count(*) AS common
  FROM cand c JOIN tri a ON a.doc_id = c.d1
              JOIN tri b ON b.doc_id = c.d2 AND b.g = a.g
  GROUP BY c.d1, c.d2
),
exact AS (
  SELECT c.d1, c.d2,
         CAST(COALESCE(m.common, 0) AS DOUBLE)
         / (s1.n_sh + s2.n_sh - COALESCE(m.common, 0)) AS jaccard
  FROM cand c
  LEFT JOIN common m ON m.d1 = c.d1 AND m.d2 = c.d2
  JOIN sizes s1 ON c.d1 = s1.doc_id JOIN sizes s2 ON c.d2 = s2.doc_id
)
SELECT e.d1, e.d2,
       round(e.est_jaccard, 6) AS est_jaccard,
       round(x.jaccard, 6) AS jaccard,
       round(abs(e.est_jaccard - x.jaccard), 6) AS abs_err
FROM est e JOIN exact x ON e.d1 = x.d1 AND e.d2 = x.d2
ORDER BY e.d1, e.d2
"""


# --------------------------------------------------------------------------
# SimHash (60-bit) + banded Hamming pairs
# --------------------------------------------------------------------------

SIMHASH_BITS = 60       #: md5-60 token hashes → 60 voting bit positions
SIMHASH_BANDS = 4       #: 4 × 15-bit bands (pigeonhole: Hamming ≤3 ⇒ band hit)
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash over distinct tokens: each token's md5-60 hash votes
    ±1 per bit position; the sign vector is the fingerprint.  60 bits (not
    64) because the token hash is the portable :func:`md5_60` — the same
    value DuckDB computes, which makes the whole simhash pipeline
    oracle-exact; fingerprints are always positive, so no signed/unsigned
    representation skew between engines.

    Arrow-batched Pandas UDF with a per-batch token→bitvector memo (Zipfian
    corpora re-hash the same words constantly) — one map-only pass, no
    explode/shuffle.  Replaces a 64-column conditional-sum aggregation that
    shuffled one row per (doc, token)."""
    import hashlib

    import numpy as np
    import pandas as pd

    tok_re = __import__("re").compile("[^a-z0-9]+")

    shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
    pow2 = (1 << shifts).astype(np.uint64)

    def _f(texts):
        memo: dict[str, np.ndarray] = {}
        out = []
        for t in texts:
            toks = {w for w in tok_re.split((t or "").lower()) if w}
            if not toks:
                out.append(0)
                continue
            rows = []
            for w in toks:
                bits = memo.get(w)
                if bits is None:
                    h = np.uint64(int(hashlib.md5(w.encode()).hexdigest()[:15], 16))
                    bits = ((h >> shifts) & np.uint64(1)).astype(np.int64)
                    memo[w] = bits
                rows.append(bits)
            # votes: ones_count*2 - n > 0  ⇔  bit set; one vectorized pass
            ones = np.sum(np.vstack(rows), axis=0, dtype=np.int64)
            sign = (ones * 2 - len(rows)) > 0
            out.append(int(np.sum(pow2[sign], dtype=np.uint64)))
        return pd.Series(out)

    _f.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(_f, "long")
    return df.select(F.col(id_col).alias("doc_id"), udf(F.col(text_col)).alias("simhash"))


def simhash_pairs(
    fp: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by banded fingerprint join + exact Hamming filter.

    4 bands of 15 bits: any pair with Hamming ≤ 3 is guaranteed a band
    match (pigeonhole), so the default output is the COMPLETE ≤3 set;
    raising ``max_hamming`` adds strata that are only probabilistically
    recalled.
    """
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"),
                        F.shiftrightunsigned(F.col("simhash"), SIMHASH_BAND_BITS * k)
                        .bitwiseAND(F.lit(_BAND_MASK))
                        .alias("band"),
                    )
                    for k in range(SIMHASH_BANDS)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "simhash", "e.k", "e.band")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        # Hamming filter BEFORE the distinct: the filter is a codegen'd
        # map-side predicate, the distinct is a shuffle — never shuffle
        # rows a predicate would drop.
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_dedup_verdict(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Per-doc dedup verdict: ``keep_id`` (smallest id among the doc's
    near-duplicates incl. itself — the cluster representative a pipeline
    keeps) and ``n_near_dups`` (count of near-duplicate partners).

    Scale design: identical fingerprints are collapsed into equivalence
    classes FIRST, so the quadratic banded join runs over DISTINCT
    fingerprints only — on a templated corpus (5k docs → ~200k raw
    near-dup pairs at sf0.1) the exact-dup mass never enters the join.
    At 100 TB this is the difference between joining billions of rows and
    joining the (orders-of-magnitude smaller) distinct-fingerprint set;
    the final per-doc answers come from one broadcast-able join of docs
    against per-class reachability aggregates.

    ``keep_id`` is the one-hop greedy contraction (min over direct
    neighbors); full transitive closure is iterative min-propagation over
    the class graph to fixpoint at deployment.
    """
    # fp feeds two plan branches (class rollup + final doc join) — persist
    # so the Pandas-UDF fingerprint pass runs once, not per branch.
    fp = persist_tracked(simhash(df, text_col, id_col))
    classes = fp.groupBy("simhash").agg(
        F.min("doc_id").alias("min_id"), F.count(F.lit(1)).alias("cnt")
    )
    # banded candidate edges among DISTINCT fingerprints, directed, with
    # the self-edge (k=0 band always matches itself)
    bands = classes.select(
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"),
                        F.shiftrightunsigned(F.col("simhash"), SIMHASH_BAND_BITS * k)
                        .bitwiseAND(F.lit(_BAND_MASK))
                        .alias("band"),
                    )
                    for k in range(SIMHASH_BANDS)
                ]
            )
        ).alias("e"),
    ).select("simhash", "e.k", "e.band")
    a = bands.alias("a")
    b = bands.alias("b")
    edges = (
        a.join(b, (F.col("a.k") == F.col("b.k")) & (F.col("a.band") == F.col("b.band")))
        .select(F.col("a.simhash").alias("fa"), F.col("b.simhash").alias("fb"))
        .filter(
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))) <= max_hamming
        )
        .distinct()
    )
    reach = (
        edges.join(classes.withColumnRenamed("simhash", "fb"), "fb")
        .groupBy("fa")
        .agg(F.min("min_id").alias("keep_min"), F.sum("cnt").alias("tot"))
    )
    return fp.join(reach, fp.simhash == reach.fa).select(
        "doc_id",
        F.col("keep_min").alias("keep_id"),
        (F.col("tot") - 1).cast("long").alias("n_near_dups"),
    )


def dedup_simhash_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_dedup_verdict(docs).orderBy("doc_id")


# --------------------------------------------------------------------------
# Wide (120-bit) SimHash — the band-saturation scale path
# --------------------------------------------------------------------------

SIMHASH_WIDE_BANDS = 4        #: pigeonhole: Hamming ≤ 3 ⇒ some band matches
SIMHASH_WIDE_BAND_BITS = 30   #: 2^30 band space — saturation point 2^15× later
_WIDE_MASK = (1 << SIMHASH_WIDE_BAND_BITS) - 1


def simhash_wide(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """120-bit SimHash as TWO portable md5-60 halves (hex chars [1,15] and
    [16,30] of the same token digest — both reproducible in DuckDB, which
    keeps the wide pipeline oracle-exact).

    This is the documented scale remedy for the 60-bit variant's band
    saturation (SCALING.md): with 15-bit bands, random band collisions
    grow ~n²/2¹⁵ once the corpus approaches 2¹⁵ distinct fingerprints —
    measured 6.0× steady-state on the 10× smoke corpus.  Doubling the
    fingerprint lets the same 4-band pigeonhole guarantee (Hamming ≤ 3
    complete) ride on 30-bit bands, pushing the saturation point out by
    2¹⁵ while the vote pass stays one map-only Arrow UDF."""
    import hashlib

    import numpy as np
    import pandas as pd

    tok_re = __import__("re").compile("[^a-z0-9]+")

    shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
    pow2 = (1 << shifts).astype(np.uint64)

    def _f(texts):
        memo: dict[str, np.ndarray] = {}
        h1s, h2s = [], []
        for t in texts:
            toks = {w for w in tok_re.split((t or "").lower()) if w}
            if not toks:
                h1s.append(0)
                h2s.append(0)
                continue
            rows = []
            for w in toks:
                bits = memo.get(w)
                if bits is None:
                    hexd = hashlib.md5(w.encode()).hexdigest()
                    a = np.uint64(int(hexd[:15], 16))
                    b = np.uint64(int(hexd[15:30], 16))
                    bits = np.concatenate(
                        [
                            ((a >> shifts) & np.uint64(1)).astype(np.int64),
                            ((b >> shifts) & np.uint64(1)).astype(np.int64),
                        ]
                    )
                    memo[w] = bits
                rows.append(bits)
            ones = np.sum(np.vstack(rows), axis=0, dtype=np.int64)
            sign = (ones * 2 - len(rows)) > 0
            h1s.append(int(np.sum(pow2[sign[:SIMHASH_BITS]], dtype=np.uint64)))
            h2s.append(int(np.sum(pow2[sign[SIMHASH_BITS:]], dtype=np.uint64)))
        return pd.DataFrame({"h1": h1s, "h2": h2s})

    udf = F.pandas_udf(_f, "h1 long, h2 long")
    return df.select(
        F.col(id_col).alias("doc_id"), udf(F.col(text_col)).alias("fp")
    ).select("doc_id", "fp.h1", "fp.h2")


def _wide_band(k: int):
    half = F.col("h1") if k < 2 else F.col("h2")
    shift = SIMHASH_WIDE_BAND_BITS * (k % 2)
    return (
        F.shiftrightunsigned(half, shift).bitwiseAND(F.lit(_WIDE_MASK))
    )


def simhash_wide_dedup_verdict(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Per-doc verdict over the 120-bit fingerprint — identical class /
    band / reach structure to :func:`simhash_dedup_verdict` (distinct
    fingerprints only enter the banded join), with 30-bit bands and the
    Hamming distance summed across both halves."""
    fp = persist_tracked(simhash_wide(df, text_col, id_col))
    classes = fp.groupBy("h1", "h2").agg(
        F.min("doc_id").alias("min_id"), F.count(F.lit(1)).alias("cnt")
    )
    bands = classes.select(
        "h1",
        "h2",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"), _wide_band(k).alias("band")
                    )
                    for k in range(SIMHASH_WIDE_BANDS)
                ]
            )
        ).alias("e"),
    ).select("h1", "h2", "e.k", "e.band")
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(
        F.col("a.h1").bitwiseXOR(F.col("b.h1"))
    ) + F.bit_count(F.col("a.h2").bitwiseXOR(F.col("b.h2")))
    edges = (
        a.join(b, (F.col("a.k") == F.col("b.k")) & (F.col("a.band") == F.col("b.band")))
        .filter(hamming <= max_hamming)
        .select(
            F.col("a.h1").alias("fa1"), F.col("a.h2").alias("fa2"),
            F.col("b.h1").alias("fb1"), F.col("b.h2").alias("fb2"),
        )
        .distinct()
    )
    reach = (
        edges.join(
            classes.withColumnRenamed("h1", "fb1").withColumnRenamed(
                "h2", "fb2"
            ),
            ["fb1", "fb2"],
        )
        .groupBy("fa1", "fa2")
        .agg(F.min("min_id").alias("keep_min"), F.sum("cnt").alias("tot"))
    )
    return fp.join(
        reach, (fp.h1 == reach.fa1) & (fp.h2 == reach.fa2)
    ).select(
        "doc_id",
        F.col("keep_min").alias("keep_id"),
        (F.col("tot") - 1).cast("long").alias("n_near_dups"),
    )


def dedup_simhash_wide_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_wide_dedup_verdict(docs).orderBy("doc_id")


def _simhash_wide_sql() -> str:
    toks = TOKENS_SQL.format(col="text")
    w = SIMHASH_WIDE_BAND_BITS
    band_union = "\n  UNION ALL ".join(
        f"SELECT h1, h2, {k} AS k, "
        f"({'h1' if k < 2 else 'h2'} >> {w * (k % 2)}) & {_WIDE_MASK} AS band "
        "FROM classes"
        for k in range(SIMHASH_WIDE_BANDS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct({toks})) AS w FROM documents
),
th AS (SELECT doc_id,
              ('0x' || substring(md5(w), 1, 15))::BIGINT AS h1,
              ('0x' || substring(md5(w), 16, 15))::BIGINT AS h2
       FROM tok),
votes AS (
  SELECT doc_id, r,
         sum(CASE WHEN r < {SIMHASH_BITS} THEN (h1 >> r) & 1
                  ELSE (h2 >> (r - {SIMHASH_BITS})) & 1 END) AS ones,
         count(*) AS n
  FROM th CROSS JOIN (SELECT unnest(range({2 * SIMHASH_BITS})) AS r) bits
  GROUP BY doc_id, r
),
fp0 AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN r < {SIMHASH_BITS} AND 2 * ones > n
                       THEN (1::BIGINT << r) ELSE 0 END) AS BIGINT) AS h1,
         CAST(sum(CASE WHEN r >= {SIMHASH_BITS} AND 2 * ones > n
                       THEN (1::BIGINT << (r - {SIMHASH_BITS})) ELSE 0 END)
              AS BIGINT) AS h2
  FROM votes GROUP BY doc_id
),
fp AS (
  SELECT d.doc_id, coalesce(f.h1, 0) AS h1, coalesce(f.h2, 0) AS h2
  FROM documents d LEFT JOIN fp0 f ON d.doc_id = f.doc_id
),
classes AS (
  SELECT h1, h2, min(doc_id) AS min_id, count(*) AS cnt
  FROM fp GROUP BY h1, h2
),
bands AS (
  {band_union}
),
edges AS (
  SELECT DISTINCT a.h1 AS fa1, a.h2 AS fa2, b.h1 AS fb1, b.h2 AS fb2
  FROM bands a JOIN bands b ON a.k = b.k AND a.band = b.band
  WHERE bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) <= 3
),
reach AS (
  SELECT fa1, fa2, min(c.min_id) AS keep_min, sum(c.cnt) AS tot
  FROM edges JOIN classes c ON c.h1 = edges.fb1 AND c.h2 = edges.fb2
  GROUP BY fa1, fa2
)
SELECT f.doc_id, r.keep_min AS keep_id, CAST(r.tot - 1 AS BIGINT) AS n_near_dups
FROM fp f JOIN reach r ON f.h1 = r.fa1 AND f.h2 = r.fa2
ORDER BY doc_id
"""


def _simhash_sql() -> str:
    """DuckDB twin of the FULL simhash verdict pipeline: md5-60 token
    hashes, per-bit majority vote, 4×15-bit band edges among distinct
    fingerprints, Hamming ≤ 3 filter, reachability rollup."""
    toks = TOKENS_SQL.format(col="text")
    band_union = "\n  UNION ALL ".join(
        f"SELECT simhash, {k} AS k, "
        f"(simhash >> {SIMHASH_BAND_BITS * k}) & {_BAND_MASK} AS band FROM classes"
        for k in range(SIMHASH_BANDS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct({toks})) AS w FROM documents
),
th AS (SELECT doc_id, ('0x' || substring(md5(w), 1, 15))::BIGINT AS h FROM tok),
votes AS (
  SELECT doc_id, r, sum((h >> r) & 1) AS ones, count(*) AS n
  FROM th CROSS JOIN (SELECT unnest(range({SIMHASH_BITS})) AS r) bits
  GROUP BY doc_id, r
),
fp0 AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN 2 * ones > n THEN (1::BIGINT << r) ELSE 0 END) AS BIGINT)
           AS simhash
  FROM votes GROUP BY doc_id
),
fp AS (
  SELECT d.doc_id, coalesce(f.simhash, 0) AS simhash
  FROM documents d LEFT JOIN fp0 f ON d.doc_id = f.doc_id
),
classes AS (
  SELECT simhash, min(doc_id) AS min_id, count(*) AS cnt FROM fp GROUP BY simhash
),
bands AS (
  {band_union}
),
edges AS (
  SELECT DISTINCT a.simhash AS fa, b.simhash AS fb
  FROM bands a JOIN bands b ON a.k = b.k AND a.band = b.band
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
),
reach AS (
  SELECT fa, min(c.min_id) AS keep_min, sum(c.cnt) AS tot
  FROM edges JOIN classes c ON c.simhash = edges.fb GROUP BY fa
)
SELECT f.doc_id, r.keep_min AS keep_id, CAST(r.tot - 1 AS BIGINT) AS n_near_dups
FROM fp f JOIN reach r ON f.simhash = r.fa
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Embedding-cosine near-dup: exact cosine pairs blocked by IVF cell
# --------------------------------------------------------------------------


def embedding_dedup_pairs(
    emb: DataFrame,
    min_sim: float = 0.98,
    cell_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine, blocked on an IVF cell key.

    Grouping on ``cell_col`` (a k-means cell id at scale; the pre-assigned
    ``label`` here) turns the O(n²) all-pairs cosine into per-cell work:
    ONE shuffle keyed by cell — or zero if the table is stored bucketed by
    cell — and only intra-cell pairs are scored.  True near-dups land in
    the same cell (their vectors nearly coincide), so blocking costs no
    recall at dedup-grade thresholds.

    Scoring is a per-cell gram matrix (``applyInPandas`` → one BLAS
    ``M @ M.T`` per cell) — ~100× the throughput of per-pair expression
    evaluation; this is the 100 TB shape (cells are memory-bounded by the
    IVF partitioner; oversized cells sub-chunk the matmul).  BLAS changes
    IEEE summation order vs a sequential fold, so reported similarities are
    rounded to 6 decimals and the threshold is applied to the ROUNDED value
    — the DuckDB oracle does the same, making the comparison
    order-insensitive-exact at 1e-6 grain.

    Reference scope: beyond-reference training-data op (SURVEY §7 phase 5);
    same pair-generation shape as P7's key-grouped merge.
    """
    import numpy as np
    import pandas as pd

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"d1": [], "d2": [], "sim": []}).astype(
                {"d1": "int64", "d2": "int64", "sim": "float64"}
            )
        pdf = pdf.sort_values(id_col)
        m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        sims = (m @ m.T) / np.outer(norms, norms)
        iu = np.triu_indices(len(pdf), k=1)
        s = np.round(sims[iu], 6)
        keep = s >= min_sim
        ids = pdf[id_col].to_numpy()
        return pd.DataFrame(
            {"d1": ids[iu[0]][keep], "d2": ids[iu[1]][keep], "sim": s[keep]}
        )

    return emb.select(id_col, cell_col, vec_col).groupBy(cell_col).applyInPandas(
        per_cell, "d1 long, d2 long, sim double"
    )


def dedup_embedding_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 0.35: dedup-grade for the synthetic embeddings (random-ish vectors —
    # intra-cell cosine tops out ~0.47; real corpora would use ~0.95+).
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_dedup_pairs(emb, min_sim=0.35).orderBy("d1", "d2")


def _emb_dedup_sql() -> str:
    from .similarity import _dot_sql

    dot_ab = _dot_sql("a.embedding", "b.embedding")
    norm = _dot_sql("embedding", "embedding")
    return f"""
WITH n AS (SELECT vec_id, label, embedding, {norm} AS norm2 FROM embeddings)
SELECT a.vec_id AS d1, b.vec_id AS d2,
       round({dot_ab} / (sqrt(a.norm2) * sqrt(b.norm2)), 6) AS sim
FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({dot_ab} / (sqrt(a.norm2) * sqrt(b.norm2)), 6) >= 0.35
ORDER BY d1, d2
"""


# --------------------------------------------------------------------------
# Span-level substring duplication (exact-substring dedup coverage)
# --------------------------------------------------------------------------

SPAN_N = 8  #: word-gram width — a shared run of >= SPAN_N tokens is a "span"


def substring_span_coverage(
    df: DataFrame, text_col: str = "text", n: int = SPAN_N
) -> DataFrame:
    """Per-document CROSS-DOC duplicated-span coverage: how much of each
    document is covered by word ``n``-grams that also appear in another
    document — the coverage metric behind exact-substring dedup of
    training corpora (duplicated-passage removal), where doc-level
    near-dup families (minhash/simhash above) can't see a copied
    paragraph inside an otherwise-unique page.

    Returns per doc: ``n_pos`` gram positions, ``n_dup`` positions whose
    gram occurs in ≥2 distinct docs, ``dup_ratio``, and ``max_run`` — the
    longest run of consecutive duplicated positions (a run of r implies a
    shared span of r+n-1 tokens).

    Scale shape (r4 re-shape, VERDICT r3 #5 — segment-level
    pre-aggregation before the inverted-index shuffle): the mapInPandas
    gram pass emits ONE ROW PER DISTINCT (doc, gram) with the position
    list PACKED in an array cell, so the ~n-rows-per-doc positional
    inflation never reaches a shuffle.  The whole computation is then
    exactly TWO exchanges: (1) doc frequency via ``count() over
    (partition by h)`` — replaces the old distinct + groupBy + flag-join
    trio; (2) ONE ``groupBy(doc_id)`` computes totals (map-side partial
    from ``size(poss)``) AND collects the doc's dup positions, whose
    longest consecutive run folds in a single array-``aggregate`` pass
    (per-doc arrays are bounded by doc length, so the interpreted HOF
    lambda touches corpus-small data) — no re-explode, no second window,
    no join.  Every stage is keyed, none is quadratic, and nothing
    materializes on the driver.
    """
    from ..functions.text import grouped_positional_ngram_rows

    op, schema = grouped_positional_ngram_rows(n, "doc_id", text_col)
    dg = df.select("doc_id", text_col).mapInPandas(op, schema)
    # doc frequency: all rows of a gram land in one window partition
    # (partition size bounded by n_docs, uniform 64-bit keys)
    flagged = dg.withColumn(
        "nd", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    is_dup = F.col("nd") >= 2
    per_doc = flagged.groupBy("doc_id").agg(
        F.sum(F.size("poss")).cast("long").alias("n_pos"),
        F.sum(F.when(is_dup, F.size("poss")).otherwise(0))
        .cast("long").alias("n_dup"),
        # positions are unique per doc (each belongs to one gram), so the
        # sorted flattened list is strictly increasing
        F.sort_array(
            F.flatten(F.collect_list(F.when(is_dup, F.col("poss"))))
        ).alias("__dup_ps"),
    )
    # longest run of consecutive positions: single fold over the sorted
    # array — state (prev, current run, max run)
    max_run = F.aggregate(
        F.col("__dup_ps"),
        F.struct(
            F.lit(-2).alias("prev"),
            F.lit(0).cast("long").alias("cur"),
            F.lit(0).cast("long").alias("mx"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"] + 1, acc["cur"] + 1)
            .otherwise(F.lit(1).cast("long")).alias("cur"),
            F.greatest(
                acc["mx"],
                F.when(x == acc["prev"] + 1, acc["cur"] + 1)
                .otherwise(F.lit(1).cast("long")),
            ).alias("mx"),
        ),
        lambda acc: acc["mx"],
    )
    return per_doc.select(
        "doc_id",
        "n_pos",
        "n_dup",
        (F.col("n_dup").cast("double") / F.col("n_pos")).alias("dup_ratio"),
        max_run.alias("max_run"),
    )


def dedup_substring_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # small single-file inputs scan as one partition, serializing the
    # CPU-bound gram hashing; at real scale the file count provides the
    # parallelism and this repartition never triggers
    target = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target)
    return substring_span_coverage(docs).orderBy("doc_id")


def _substring_sql() -> str:
    from ..functions.text import positional_ngrams_sql

    grams = positional_ngrams_sql("text", SPAN_N)
    return f"""
WITH g AS (SELECT doc_id, {grams} AS gs FROM documents),
pos AS (
  SELECT doc_id, i AS pos, gs[i] AS gr
  FROM g, unnest(generate_series(1, len(gs))) AS u(i)
),
dup AS (
  SELECT gr FROM (SELECT gr, count(DISTINCT doc_id) AS nd
                  FROM pos GROUP BY gr) WHERE nd >= 2
),
flagged AS (
  SELECT p.doc_id, p.pos,
         CASE WHEN d.gr IS NOT NULL THEN 1 ELSE 0 END AS is_dup
  FROM pos p LEFT JOIN dup d ON p.gr = d.gr
),
totals AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos,
         CAST(sum(is_dup) AS BIGINT) AS n_dup
  FROM flagged GROUP BY doc_id
),
runs AS (
  SELECT doc_id, CAST(max(run) AS BIGINT) AS max_run FROM (
    SELECT doc_id, count(*) AS run FROM (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM flagged WHERE is_dup = 1
    ) GROUP BY doc_id, grp
  ) GROUP BY doc_id
)
SELECT t.doc_id, n_pos, n_dup,
       CAST(n_dup AS DOUBLE) / n_pos AS dup_ratio,
       COALESCE(max_run, 0) AS max_run
FROM totals t LEFT JOIN runs r ON t.doc_id = r.doc_id
ORDER BY t.doc_id
"""


# --------------------------------------------------------------------------
# Containment pairs (asymmetric near-dup: a short doc quoted inside a long
# one has high containment but low Jaccard — the case jaccard misses)
# --------------------------------------------------------------------------


def containment_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """Pairs with ``common / min(|A|,|B|) >= num/den`` over the same
    capped hashed-shingle inverted index as the Jaccard family — the
    expensive pair join is the SHARED ``cached_common_counts`` pass
    (computed once per corpus snapshot for all pairwise families).
    Integer cross-multiplied threshold; the reported coefficient is one
    IEEE division."""
    common, sizes = cached_common_counts(spark, sf_dir, n)
    s1, s2 = sizes.alias("s1"), sizes.alias("s2")
    min_sz = F.least(F.col("s1.n_sh"), F.col("s2.n_sh"))
    return (
        common.join(s1, F.col("d1") == F.col("s1.doc_id"))
        .join(s2, F.col("d2") == F.col("s2.doc_id"))
        .withColumn("min_sz", min_sz)
        .filter(
            F.lit(threshold_den) * F.col("common")
            >= F.lit(threshold_num) * F.col("min_sz")
        )
        .select(
            "d1", "d2", "common", "min_sz",
            (F.col("common").cast("double") / F.col("min_sz")).alias(
                "containment"
            ),
        )
    )


def dedup_containment_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment_pairs(spark, sf_dir).orderBy("d1", "d2")


DEDUP_CONTAINMENT_SQL = f"""
WITH {NGRAM_KEPT_CTE}
SELECT d1, d2, common, least(s1.n_sh, s2.n_sh) AS min_sz,
       CAST(common AS DOUBLE) / least(s1.n_sh, s2.n_sh) AS containment
FROM common JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
WHERE 2 * common >= 1 * least(s1.n_sh, s2.n_sh)
ORDER BY d1, d2
"""


# --------------------------------------------------------------------------
# N-gram novelty (share of a doc's shingles FIRST seen in that doc)
# --------------------------------------------------------------------------


def ngram_novelty(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """Per-document novelty in corpus order: the share of its distinct
    shingles whose first occurrence (minimum doc_id) is the document
    itself — the cheap cross-doc freshness signal sitting between exact
    dedup and the pairwise families.  One shuffle keyed by shingle
    (first-doc aggregation), one keyed join back — inverted-index cost,
    no pairs."""
    doc_sets = cached_doc_shingles(spark, sf_dir, n)
    sh = doc_sets.select("doc_id", F.explode("shset").alias("sh"))
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sh"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id", "n_sh", "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_sh")).alias("novelty"),
        )
    )


def ngram_novelty_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_novelty(spark, sf_dir).orderBy("doc_id")


NGRAM_NOVELTY_SQL = f"""
WITH tri AS (
  SELECT doc_id, unnest({ngrams_sql("text", 3)}) AS sh FROM documents
),
first AS (SELECT sh, min(doc_id) AS first_doc FROM tri GROUP BY sh)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh,
       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS novelty
FROM tri JOIN first USING (sh)
GROUP BY doc_id ORDER BY doc_id
"""


DEDUP_QUERIES = {
    "dedup_exact": (dedup_exact_query, DEDUP_EXACT_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_query, DEDUP_NGRAM_SQL),
    # LSH banding is deterministic here (portable md5-60 hashes + fixed
    # seeded permutations), so both families get FULL value oracles.
    "dedup_minhash_lsh": (dedup_minhash_query, _minhash_sql()),
    "dedup_minhash_planned": (
        dedup_minhash_planned_query,
        _minhash_sql(bands=16),
    ),
    "dedup_minhash_accuracy": (minhash_accuracy_query, _minhash_accuracy_sql()),
    "dedup_simhash": (dedup_simhash_query, _simhash_sql()),
    "dedup_simhash_wide": (dedup_simhash_wide_query, _simhash_wide_sql()),
    "dedup_embedding_cosine": (dedup_embedding_query, _emb_dedup_sql()),
    "dedup_substring_span": (dedup_substring_query, _substring_sql()),
    "dedup_containment": (dedup_containment_query, DEDUP_CONTAINMENT_SQL),
    "text_ngram_novelty": (ngram_novelty_query, NGRAM_NOVELTY_SQL),
}


def family_sizes_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup FAMILY-SIZE distribution: how many jaccard-cluster
    families have k members, how many documents that bucket accounts for
    and how many are removable copies — the one-page report a dedup run
    ships (the size-1 row is the unique mass; everything else is
    duplication).  Reuses the process-cached pair set + components; the
    report itself is two skinny keyed aggregations."""
    from .graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = cached_ngram_pairs(spark, sf_dir, n=3, threshold_num=1, threshold_den=5)
    clusters = connected_components(
        docs.select("doc_id"), pairs.select("d1", "d2")
    )
    fams = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("k"))
    return (
        fams.groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_families"))
        .select(
            F.col("k").cast("long").alias("k"),
            "n_families",
            (F.col("k") * F.col("n_families")).cast("long").alias("n_docs"),
            ((F.col("k") - 1) * F.col("n_families"))
            .cast("long")
            .alias("n_removable"),
        )
        .orderBy("k")
    )


def _family_sizes_sql() -> str:
    return f"""
WITH RECURSIVE {NGRAM_KEPT_CTE},
pairs AS (
  SELECT d1, d2 FROM common
  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
  WHERE 5 * common >= (s1.n_sh + s2.n_sh - common)
),
adj AS (SELECT d1 AS a, d2 AS b FROM pairs
        UNION SELECT d2, d1 FROM pairs),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT adj.b, reach.label FROM reach JOIN adj ON adj.a = reach.node
),
cl AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
fams AS (SELECT cluster_id, count(*) AS k FROM cl GROUP BY cluster_id)
SELECT CAST(k AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_families,
       CAST(k * count(*) AS BIGINT) AS n_docs,
       CAST((k - 1) * count(*) AS BIGINT) AS n_removable
FROM fams GROUP BY k ORDER BY k
"""


DEDUP_QUERIES["dedup_family_sizes"] = (family_sizes_query, _family_sizes_sql())


# --------------------------------------------------------------------------
# Segment-level exact dedup (CCNet paragraph dedup, fixed-width segments)
# --------------------------------------------------------------------------

_SEG_W = 10  #: tokens per non-overlapping segment


def segment_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style sub-document exact dedup: drop every repeated SEGMENT,
    keeping only its first corpus occurrence (CCNet dedupes paragraphs
    before doc-level dedup; this corpus has no paragraph breaks, so the
    unit is the non-overlapping 10-token segment — same semantics, fixed
    width).  "First occurrence" is the global (doc_id, seg_idx) order,
    made distributed-safe by ranking inside each segment-hash partition
    only.  Output: per doc, segments seen / dropped and tokens kept — the
    per-document retention report a paragraph-dedup pass ships.

    Scale: tokenize once, posexplode to (doc, token_pos) rows, and build
    each segment with a (doc, seg_idx) aggregation — the RELATIONAL
    formulation, chosen over slicing a per-row segment array with
    higher-order functions: array-HOF lambdas re-evaluate the tokenize
    tree per element and the duplicated tree recompiles in janino for
    seconds per run (measured 8.8 s vs 1.3 s for this corpus).  Then ONE
    shuffle keyed by the segment's md5 (uniform 128-bit keys — no skew,
    16-byte exchange keys, not segment text), a per-key window ranking
    occurrence order, and the per-doc reaggregation.  No pairwise joins,
    nothing quadratic; at 100 TB the token explode is the corpus itself
    (map-side) and the segment exchange is ~n_tokens/10 rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok_rows = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    seg_of = (F.col("pos") / _SEG_W).cast("int")
    exploded = (
        tok_rows.groupBy("doc_id", seg_of.alias("seg_idx"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("seg_toks"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"],
                    ),
                )
            ).alias("seg_key"),
        )
    )
    w = Window.partitionBy("seg_key").orderBy("doc_id", "seg_idx")
    ranked = exploded.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_segs"),
            F.sum((F.col("rn") > 1).cast("int")).cast("int").alias("n_dropped"),
            F.sum(F.when(F.col("rn") == 1, F.col("seg_toks")).otherwise(0))
            .cast("int")
            .alias("tokens_kept"),
        )
        .orderBy("doc_id")
    )


def _segment_dedup_sql() -> str:
    t = TOKENS_SQL.format(col="text")
    w = _SEG_W
    return f"""
WITH toks AS (SELECT doc_id, {t} AS t FROM documents),
idx AS (
  SELECT doc_id, t,
         unnest(range(CAST(ceil(len(t) / {w}.0) AS BIGINT))) AS seg_idx
  FROM toks WHERE len(t) > 0
),
segs AS (
  SELECT doc_id, seg_idx,
         array_to_string(t[(seg_idx*{w}+1):(seg_idx*{w}+{w})], ' ') AS seg
  FROM idx
),
ranked AS (
  SELECT doc_id, seg_idx, len(string_split(seg, ' ')) AS seg_toks,
         row_number() OVER (PARTITION BY md5(seg)
                            ORDER BY doc_id, seg_idx) AS rn
  FROM segs
)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_segs,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS INT) AS n_dropped,
       CAST(sum(CASE WHEN rn = 1 THEN seg_toks ELSE 0 END) AS INT)
         AS tokens_kept
FROM ranked GROUP BY doc_id ORDER BY doc_id
"""


DEDUP_QUERIES["dedup_segment_exact"] = (segment_dedup_query, _segment_dedup_sql())


# --------------------------------------------------------------------------
# SemDeDup: semantic dedup policy over cell-blocked embedding pairs
# --------------------------------------------------------------------------


def semdedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): remove semantic near-duplicates by
    embedding cosine WITHIN a cluster cell — the embedding-space
    complement of the text near-dup families, catching paraphrases and
    re-encodings that share no shingles.  The keep policy here is the
    deterministic variant: a vector is dropped iff a SMALLER-id vector in
    its cell is cosine-similar above the threshold (epsilon-graph
    domination; the paper keeps a random/centroid-far representative —
    id-min makes the result value-oracle-checkable without changing what
    is removed, only which member represents the ball).

    Output per vector: its cell, the smallest near-dup neighbor id that
    dominates it (NULL if none) and the resulting keep flag.

    Scale: reuses ``embedding_dedup_pairs`` — cell-blocked BLAS gram
    matrices, only intra-cell pairs ever materialize — then one keyed
    aggregation (min per dominated vector) and one shuffle join back to
    the vector table.  Nothing quadratic beyond the cell-bounded pairs,
    no driver state."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_dedup_pairs(emb, min_sim=0.35)
    dominated = pairs.groupBy("d2").agg(F.min("d1").alias("smaller_nn"))
    return (
        emb.select("vec_id", "label")
        .join(dominated, F.col("vec_id") == F.col("d2"), "left")
        .select(
            "vec_id",
            "label",
            "smaller_nn",
            F.col("smaller_nn").isNull().alias("kept"),
        )
        .orderBy("vec_id")
    )


def _semdedup_sql() -> str:
    from .similarity import _dot_sql

    dot_ab = _dot_sql("a.embedding", "b.embedding")
    norm = _dot_sql("embedding", "embedding")
    return f"""
WITH n AS (SELECT vec_id, label, embedding, {norm} AS norm2 FROM embeddings),
pairs AS (
  SELECT a.vec_id AS d1, b.vec_id AS d2
  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round({dot_ab} / (sqrt(a.norm2) * sqrt(b.norm2)), 6) >= 0.35
),
dom AS (SELECT d2, min(d1) AS smaller_nn FROM pairs GROUP BY d2)
SELECT e.vec_id, e.label, dom.smaller_nn,
       dom.smaller_nn IS NULL AS kept
FROM embeddings e LEFT JOIN dom ON e.vec_id = dom.d2
ORDER BY e.vec_id
"""


DEDUP_QUERIES["emb_semdedup"] = (semdedup_query, _semdedup_sql())


# --------------------------------------------------------------------------
# LSH planning helpers — the corpus-size knobs, computed instead of guessed
# --------------------------------------------------------------------------


def lsh_plan(
    threshold_jaccard: float,
    n_hashes: int,
    max_rows_per_band: int | None = None,
) -> tuple[int, int, float]:
    """Choose (bands, rows_per_band) for MinHash-LSH at a target Jaccard
    threshold: among the divisor factorizations b·r = n_hashes, pick the
    one whose S-curve threshold ``(1/b)^(1/r)`` (Leskovec/Rajaraman/
    Ullman, *Mining of Massive Datasets* §3.4.3) lands closest to the
    requested threshold.  Returns (bands, rows_per_band,
    achieved_threshold).

    ``max_rows_per_band`` restricts the search to geometries a caller's
    bucket representation can hold — the engine's 15-bit band packing
    fits at most 4 rows in a 64-bit bucket, so ``minhash_dedup_pairs``
    plans with ``max_rows_per_band=4`` (high thresholds then get the
    widest representable geometry instead of an unpackable one).

    This turns SCALING.md's "band parameters are corpus knobs" note into
    a computed plan: lower thresholds want more bands (more candidate
    recall), higher thresholds fewer — no guessing."""
    if not 0.0 < threshold_jaccard < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if n_hashes < 1:
        raise ValueError("n_hashes must be >= 1")
    best = None
    for r in range(1, n_hashes + 1):
        if n_hashes % r:
            continue
        if max_rows_per_band is not None and r > max_rows_per_band:
            continue
        b = n_hashes // r
        t = (1.0 / b) ** (1.0 / r)
        if best is None or abs(t - threshold_jaccard) < abs(
            best[2] - threshold_jaccard
        ):
            best = (b, r, t)
    return best


def simhash_band_bits(expected_docs: int) -> int:
    """Band width (bits) for SimHash banding at a given corpus size: the
    expected number of RANDOM collisions within one band is ~n²/2^w, so
    holding it at ~n (each doc meets O(1) random candidates per band —
    a bound independent of how many bands there are) needs
    ``w ≥ log2(n)``.  Measured basis: the 15-bit default saturates near
    2¹⁵ docs (6× wall-clock at 10×sf0.1, SCALING.md); the 30-bit wide
    variant restores pruning (3.2×).  Clamped to [8, 60]."""
    import math

    if expected_docs < 2:
        return 8
    return max(8, min(60, math.ceil(math.log2(expected_docs))))


def simhash_dedup_auto(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    expected_docs: int | None = None,
) -> DataFrame:
    """Planner-driven SimHash dedup — THE default entry point.

    Picks the fingerprint/band width from the corpus size instead of
    shipping a fixed width: :func:`simhash_band_bits` holds expected
    random band collisions at O(1) per doc (w ≥ log2 n), and the
    pigeonhole guarantee (Hamming ≤ ``max_hamming`` ⇒ some band matches)
    needs ``max_hamming + 1`` non-overlapping bands — so up to 15-bit
    bands ride the 60-bit fingerprint (4 × 15) and anything wider
    switches to the 120-bit fingerprint (4 × 30, good to ~2³⁰ docs).
    Measured on the 10× smoke corpus: narrow saturates at 5.3–6.0×,
    wide restores 3.2× (SCALING.md r5) — this function makes the wide
    path automatic at the sizes where it wins.

    ``expected_docs`` skips the sizing count when the caller already
    knows it (e.g. from catalog stats); otherwise one cheap ``count()``
    over the input (parquet footers at rest) picks the plan.  The fixed
    narrow/wide verdicts remain available as explicit calls — the
    oracle-checked registry entries use those so checked results never
    depend on corpus size.
    """
    n = expected_docs if expected_docs is not None else df.count()
    if simhash_band_bits(n) <= SIMHASH_BAND_BITS:
        return simhash_dedup_verdict(df, text_col, id_col, max_hamming)
    return simhash_wide_dedup_verdict(df, text_col, id_col, max_hamming)
