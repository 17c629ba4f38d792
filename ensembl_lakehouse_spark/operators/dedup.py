"""Deduplication operators over ``documents`` (EXT X1).

The reference has no dedup (its surface is single-table
SELECT-project-filter, app/main.py:479); these are the north-star
LLM-pipeline operators: exact dedup keyed on a content fingerprint,
and near-duplicate detection via MinHash + banded LSH.

Design for 100 TB (the part that matters):

- **Never all-pairs.** Candidate pairs come only from LSH band
  buckets: a doc emits ``BANDS`` (band_idx, band_key) rows, pairs
  are generated *within* a bucket by an equi-join on the band key.
  The shuffle is on band_key — O(docs·BANDS) rows — and the join
  fan-out is quadratic only in the bucket size, which is capped
  (``BUCKET_CAP``) exactly like production dedup pipelines cap or
  salt hot buckets. An uncapped degenerate key (e.g. the empty
  document) would otherwise create one quadratic straggler task.
- **Signatures are map-only.** One md5 per shingle, then K affine
  permutations folded JVM-side inside whole-stage codegen via
  higher-order functions; the shingle→signature stage has zero
  shuffle and scales linearly with input splits.
- **Verification is exact.** LSH only *proposes*; every candidate
  pair is re-scored with the true shingle-set Jaccard (integer set
  sizes, one double division), so false positives cost time but
  never correctness, and the recall knob (BANDS×ROWS_PER_BAND vs
  threshold) is explicit: P[pair at j shares ≥1 band] =
  1-(1-j^R)^B, ≈0.9996 at j=0.9 with B=4, R=4.

Cross-engine determinism: every hash is md5-derived
(functions/hashing.py — Spark ``conv(substr(md5(x),..),16,10)`` ==
DuckDB ``CAST('0x'||substr(md5(x),..) AS BIGINT)``), and the affine
permutation constants are generated once in Python (hashlib) and
interpolated into BOTH the Spark plan and the DuckDB oracle SQL, so
the two engines walk the identical candidate lattice.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, functions as F

from ensembl_lakehouse_spark.functions.hashing import (
    P31,
    ROLL_MOD,
    sql_md5_long31,
    sql_md5_long60,
)
from ensembl_lakehouse_spark.functions.text import (
    NORM_DUCK_SQL,
    NORM_SPARK_SQL,
    sql_word_shingles,
)
from ensembl_lakehouse_spark.sources.tables import load_spread, load_table

#: Shingle width (words) for near-dup signatures.
SHINGLE_N = 3
#: MinHash permutations; BANDS * ROWS_PER_BAND must equal K.
K_MINHASH = 16
BANDS = 4
ROWS_PER_BAND = 4
#: Exact-Jaccard acceptance threshold for a candidate pair.
JACCARD_THRESHOLD = 0.8
#: Max docs per LSH bucket; larger buckets are dropped (degenerate
#: keys — at 100 TB a hot bucket is a quadratic straggler).
BUCKET_CAP = 50


def _perm_constants() -> list[tuple[int, int]]:
    """K deterministic affine-permutation constants (a, b), a != 0.

    Derived from hashlib md5 so the list is reproducible in any
    environment and identical in the Spark plan and the oracle SQL.
    a*h + b stays < 2^63: a < 2^31, h < 2^31 → product < 2^62.
    """
    out = []
    for j in range(K_MINHASH):
        a = int(hashlib.md5(f"minhash-a-{j}".encode()).hexdigest()[:8], 16) % (P31 - 1) + 1
        b = int(hashlib.md5(f"minhash-b-{j}".encode()).hexdigest()[:8], 16) % P31
        out.append((a, b))
    return out


PERMS = _perm_constants()


# --- shared expression builders (Spark SQL dialect) -----------------------

def _spark_shingles(toks: str) -> str:
    """Distinct word n-grams from a token-array expression."""
    return (
        f"array_distinct(transform("
        f"sequence(1, greatest(size({toks}) - {SHINGLE_N} + 1, 1)), "
        f"i -> array_join(slice({toks}, i, {SHINGLE_N}), ' ')))"
    )


def _spark_signature(shingles: str) -> str:
    """K-element minhash signature of a shingle-array expression.

    The base-hash array is let-bound via the single-element
    ``transform(array(x), v -> body)[0]`` idiom so md5 runs ONCE per
    shingle, not once per permutation — without the binding Catalyst
    inlines the subtree into all K lambdas.
    """
    mins = ", ".join(
        f"array_min(transform(hs, h -> (h * {a}L + {b}L) % {P31}L))" for a, b in PERMS
    )
    base = (
        f"transform({shingles}, "
        f"s -> cast(conv(substring(md5(s), 1, 8), 16, 10) AS bigint) % {P31}L)"
    )
    return f"transform(array({base}), hs -> array({mins}))[0]"


def _spark_band_keys(sig: str) -> str:
    """Array of BANDS pipe-joined band keys from a signature expr."""
    return (
        f"transform(array({sig}), g -> transform(sequence(0, {BANDS - 1}), "
        f"bi -> array_join(transform(slice(g, bi * {ROWS_PER_BAND} + 1, "
        f"{ROWS_PER_BAND}), x -> cast(x AS string)), '|')))[0]"
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on the 60-bit md5 of normalized text.

    Emits every doc with its fingerprint group size and whether it
    is the canonical (min doc_id) representative — the row a
    ``WHERE is_canonical`` filter keeps, which is how the dedup is
    applied downstream.

    Scale: one shuffle on fp_md5 (the window partition key); group
    sizes are duplicate-cluster sizes, naturally tiny, so there is
    no skew. Equivalent groupBy+broadcast-join shape would also
    work; the window form reads the data once.
    """
    df = (
        # spread reverted (r11 A/B): the exchange cost the fixture +0.30 s vs no-spread at sf0.1; map work here is too light to earn it
        load_table(spark, sf_dir, "documents")
        .where(F.length(F.trim("text")) > 0)
        .withColumn(
            "fp_md5",
            F.expr(f"cast(conv(substring(md5({NORM_SPARK_SQL}), 1, 15), 16, 10) AS bigint)"),
        )
    )
    w = "(PARTITION BY fp_md5)"
    return df.select(
        "doc_id",
        "fp_md5",
        F.expr(f"count(*) OVER {w}").alias("n_copies"),
        F.expr(f"doc_id = min(doc_id) OVER {w}").alias("is_canonical"),
    )


DEDUP_EXACT_SQL = f"""
WITH d AS (SELECT doc_id, {sql_md5_long60(NORM_DUCK_SQL)} AS fp_md5
           FROM documents WHERE length(trim(text)) > 0)
SELECT doc_id, fp_md5,
       count(*) OVER (PARTITION BY fp_md5) AS n_copies,
       doc_id = min(doc_id) OVER (PARTITION BY fp_md5) AS is_canonical
FROM d
"""


# ---------------------------------------------------------------------------
# Near-dup: MinHash + banded LSH
# ---------------------------------------------------------------------------

def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = "split(trim(text), '\\\\s+')"
    return (
        # conditional doc_id spread (guide §2.5): shingling +
        # downstream minhash/md5 signatures are the heavy map work;
        # without it the single-row-group fixture file runs them on
        # ONE task (also serializing the _near_pipeline checkpoint)
        load_spread(spark, sf_dir, "documents", "doc_id")
        .where(F.length(F.trim("text")) > 0)
        .select("doc_id", F.expr(_spark_shingles(toks)).alias("sh"))
    )


def dedup_near(
    spark: SparkSession,
    sf_dir: str,
    *,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Near-duplicate pairs via MinHash signatures + banded LSH,
    verified with exact shingle-set Jaccard >= ``threshold``
    (default JACCARD_THRESHOLD — oracle-pinned; per-request
    overrides via service/params.py; the LSH band geometry stays
    fixed, so lowering the threshold below the bands' S-curve
    sweet spot trades recall, which minhash_calibration measures).

    Pipeline (each stage's shuffle justified in the module
    docstring): shingle → K-minhash signature (map-only) → explode
    BANDS band keys → drop buckets larger than BUCKET_CAP →
    self-join within buckets (da < db) → distinct pairs → exact
    Jaccard from integer set sizes → threshold filter.

    Output: (doc_a, doc_b, n_sh_a, n_sh_b, n_common, jaccard).
    """
    return _near_pipeline(_shingled(spark, sf_dir), threshold)


def _near_pipeline(
    s: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    wide_verify: bool = False,
) -> DataFrame:
    """MinHash+LSH+verify over any (doc_id, sh: array<string>)
    input — the shingle definition (word n-gram, char n-gram, url,
    …) is the caller's; the candidate lattice is shared.

    The shingle set and the capped band list are ``localCheckpoint``ed
    because each is consumed by MULTIPLE plan branches (bands feed
    both sides of the self-join; shingles feed the signature AND both
    verification joins): without truncation Spark re-runs the
    md5-per-shingle map stage up to 4x — measured 5.1 s → 2.0 s on
    the char-gram variant and 3.5 s → 0.4 s on the word variant at
    sf0.1, identical output. Same reasoning as the pair-graph
    checkpoint in components_recursive.

    ``eager=False`` (r12 sweep): under AQE, a lazy localCheckpoint
    already executes its shuffle stages at plan-build (toRdd
    materializes query stages) — laziness only defers the FINAL
    result stage + block write into the consumer job, where it
    fuses. Matched 3-variant A/B (tools/ckpt_sweep.py): lazy beats
    eager consistently across the family (near 1.29→1.14, chargram
    1.80→1.51, substring 2.02→1.93, and every downstream components
    consumer), and beats no-checkpoint everywhere the lattice fans
    out. Bit-safe lazily: every value here is md5-derived
    integer/string — identical under any evaluation order."""
    s = s.localCheckpoint(eager=False)
    sig = s.select("doc_id", "sh", F.expr(_spark_signature("sh")).alias("sig"))
    bands = sig.select(
        "doc_id", F.posexplode(F.expr(_spark_band_keys("sig"))).alias("band_idx", "band_key")
    )
    bands = bands.withColumn(
        "bucket_n", F.expr("count(*) OVER (PARTITION BY band_idx, band_key)")
    ).where(F.col("bucket_n").between(2, BUCKET_CAP)).localCheckpoint(
        eager=False  # r12 sweep — see the s checkpoint note above
    )
    a, b = bands.alias("a"), bands.alias("b")
    raw_pairs = a.join(
        b,
        on=[
            F.col("a.band_idx") == F.col("b.band_idx"),
            F.col("a.band_key") == F.col("b.band_key"),
            F.col("a.doc_id") < F.col("b.doc_id"),
        ],
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    # ``wide_verify`` pins the candidate lattice's partitioning on
    # doc_a (r11, guide §2.5): the pairs relation is tiny in BYTES
    # (16 B ids) but each row triggers an exact shingle-set
    # intersection downstream — AQE's byte-based coalescing squeezed
    # it to ONE partition and serialized the whole verify stage.
    # HashPartitioning(doc_a) satisfies both the dedup distinct's
    # (doc_a, doc_b) clustering and the verify join's doc_a
    # clustering, so both run in-partition with zero further
    # exchanges; the count is defaultParallelism (cluster width, not
    # a local constant) and per-doc fan-out is BUCKET_CAP-bounded,
    # so no partition can be hot. Opt-IN because it only pays when
    # the per-pair intersection is expensive: the char-gram variant
    # (~|text| grams/doc) measured 1.72 s → 0.52 s with it, while
    # the word-shingle consumers (~|words| grams) measured 0.14 s →
    # 0.64 s — the exchange + 32-task stage overhead outweighs the
    # cheap intersections there (both at sf0.1, r11 A/B).
    if wide_verify:
        pairs = raw_pairs.repartition(
            raw_pairs.sparkSession.sparkContext.defaultParallelism, "doc_a"
        ).dropDuplicates(["doc_a", "doc_b"])
    else:
        pairs = raw_pairs.distinct()
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = s.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    scored = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size("sh_a").alias("n_sh_a"),
            F.size("sh_b").alias("n_sh_b"),
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_sh_a") + F.col("n_sh_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return scored


#: Char-shingle width for the character-n-gram variant.
CHARGRAM_N = 5


def dedup_near_chargram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram Jaccard near-dup: the same MinHash+LSH
    lattice as dedup_near, but shingles are distinct 5-char windows
    of the normalized text. Char grams are tokenizer-free — they
    catch near-dups across languages without word boundaries (CJK,
    code) and survive punctuation/casing edits that break word
    shingles; word shingles are cheaper (fewer shingles/doc).
    Production pipelines run whichever matches their corpus; both
    share this implementation.

    The char array is let-bound so the regexp char-split runs once
    per doc, with each window an O(n) slice+join of the bound
    array, never a substring re-scan of the string."""
    chars = f"regexp_extract_all({NORM_SPARK_SQL}, '.', 0)"
    sh = (
        f"transform(array({chars}), ch -> array_distinct(transform("
        f"sequence(1, greatest(size(ch) - {CHARGRAM_N - 1}, 1)), "
        f"i -> array_join(slice(ch, i, {CHARGRAM_N}), ''))))[0]"
    )
    s = (
        # conditional doc_id spread (guide §2.5) — char-gram
        # extraction is the costliest shingler in the family
        load_spread(spark, sf_dir, "documents", "doc_id")
        .where(F.length(F.trim("text")) > 0)
        .select("doc_id", F.expr(sh).alias("sh"))
    )
    return _near_pipeline(s, wide_verify=True)


# ---------------------------------------------------------------------------
# Near-dup: SimHash
# ---------------------------------------------------------------------------

#: SimHash width (bits) — md5_long60 supplies 60 deterministic bits.
SIMHASH_BITS = 60
#: Bands for the banded hamming pre-filter: 4 × 15 bits. Pigeonhole:
#: any pair within hamming distance 3 shares at least one intact
#: band, so recall is GUARANTEED (not probabilistic) at the chosen
#: SIMHASH_MAX_HAMMING = 3.
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 15
SIMHASH_MAX_HAMMING = 3


def _spark_simhash(toks: str) -> str:
    """60-bit SimHash of a token-array expression.

    Per bit i: the bit is set iff at least half the token hashes
    have bit i set (majority vote; the classic ±1 sum ≥ 0 rewritten
    as 2·ones ≥ n so everything stays integer). The token-hash
    array is let-bound so md5 runs once per token, not 60×.
    """
    bits = " + ".join(
        f"(CASE WHEN 2 * size(filter(hs, h -> (shiftright(h, {i}) & 1) = 1)) "
        f">= size(hs) THEN {1 << i}L ELSE 0L END)"
        for i in range(SIMHASH_BITS)
    )
    base = (
        f"transform({toks}, "
        f"t -> cast(conv(substring(md5(t), 1, 15), 16, 10) AS bigint))"
    )
    return f"transform(array({base}), hs -> {bits})[0]"


def _duck_simhash(toks: str) -> str:
    bits = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> ((h >> {i}) & 1) = 1)) "
        f">= len(hs) THEN {1 << i} ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return f"(SELECT {bits} FROM (SELECT list_transform({toks}, t -> {sql_md5_long60('t')}) AS hs))"


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via SimHash + banded hamming search.

    Pipeline: whitespace tokens → 60-bit majority-vote SimHash
    (map-only) → explode 4×15-bit bands (integer keys, cheaper to
    shuffle than MinHash's string keys) → bucket self-join →
    verify with exact ``bit_count(xor)`` ≤ 3.

    vs MinHash (dedup_near): SimHash is one 8-byte signature per
    doc instead of K=16, and the verify is two machine instructions
    per pair instead of a set intersection — the cheap screen a
    100 TB pipeline runs FIRST. Its recall guarantee is exact for
    hamming ≤ bands-1 (pigeonhole), whereas MinHash's is
    probabilistic in Jaccard space; run both, they catch different
    tails.
    """
    toks = "split(trim(lower(text)), '\\\\s+')"
    sigs = (
        # conditional doc_id spread (guide §2.5): per-token md5 bit
        # voting is heavy map work; no-op at scale
        load_spread(spark, sf_dir, "documents", "doc_id")
        .where(F.length(F.trim("text")) > 0)
        .select("doc_id", F.expr(_spark_simhash(toks)).alias("sim"))
    )
    band_arr = ", ".join(
        f"shiftright(sim, {b * SIMHASH_BAND_BITS}) & {(1 << SIMHASH_BAND_BITS) - 1}"
        for b in range(SIMHASH_BANDS)
    )
    bands = sigs.select(
        "doc_id", "sim", F.posexplode(F.expr(f"array({band_arr})")).alias("band_idx", "band_key")
    )
    # Checkpoint: both self-join sides consume the banded signatures;
    # without truncation the 60-bit majority-vote map stage (60
    # filters over the token-hash array per doc) runs twice.
    bands = bands.withColumn(
        "bucket_n", F.expr("count(*) OVER (PARTITION BY band_idx, band_key)")
    ).where(F.col("bucket_n").between(2, BUCKET_CAP)).localCheckpoint()
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.sim ^ b.sim)").cast("int").alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


DEDUP_SIMHASH_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), sigs AS (
  SELECT doc_id, {_duck_simhash("toks")} AS sim FROM t
), bands AS (
  SELECT doc_id, sim,
         unnest(list_transform(range(0, {SIMHASH_BANDS}),
           b -> {{'band_idx': b,
                  'band_key': (sim >> (b * {SIMHASH_BAND_BITS})) & {(1 << SIMHASH_BAND_BITS) - 1}}}),
           recursive := true)
  FROM sigs
), capped AS (
  SELECT * FROM (
    SELECT doc_id, sim, band_idx, band_key,
           count(*) OVER (PARTITION BY band_idx, band_key) AS bucket_n
    FROM bands)
  WHERE bucket_n BETWEEN 2 AND {BUCKET_CAP}
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
  FROM capped a JOIN capped b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= {SIMHASH_MAX_HAMMING}
"""


# ---------------------------------------------------------------------------
# Cluster assembly: connected components over the near-dup graph
# ---------------------------------------------------------------------------

#: Iteration cap for label propagation (component diameter bound;
#: near-dup clusters are near-cliques, so 2-3 rounds converge).
CC_MAX_ITERATIONS = 20


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document to its near-duplicate cluster: the
    connected components of the dedup_near pair graph, labeled by
    min doc_id (the canonical representative a pipeline keeps).

    Iterative min-label propagation: each round every node takes
    the min of its own label and its neighbors' labels; converged
    when no label changes. This is the one operator here that is
    genuinely iterative — not SQL-expressible as a single query, so
    it has no DuckDB oracle (driver records the weaker rows-only
    check); correctness is pinned by tests/test_dedup_similarity.py
    against a Python union-find over the same edges.

    Scale notes: each round is one join + partial-agg min on the
    edge list — the textbook large-graph CC (Hash-Min), rounds
    bounded by component diameter (near-dup clusters are
    near-cliques → 2-3 rounds). ``localCheckpoint`` truncates the
    growing lineage each round — without it iteration N replays
    rounds 1..N-1 and the loop is quadratic. The driver-side loop
    controls ITERATION count only (a `.count()` per round for the
    convergence test); data never visits the driver.

    Output: (doc_id, component, cluster_size) for ALL documents —
    singletons are their own component, so `WHERE doc_id !=
    component` is the rows-to-drop dedup verdict.
    """
    edges = dedup_near(spark, sf_dir).select("doc_a", "doc_b")
    both = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint()

    labels = (
        both.select(F.col("doc_a").alias("id")).distinct().withColumn("label", F.col("id"))
    ).localCheckpoint()
    for _ in range(CC_MAX_ITERATIONS):
        msgs = both.join(labels, both.doc_a == labels.id).select(
            F.col("doc_b").alias("id"), "label"
        )
        new_labels = (
            labels.select("id", "label")
            .union(msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.length(F.trim("text")) > 0)
        .select("doc_id")
    )
    assigned = docs.join(labels, docs.doc_id == labels.id, "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("component")
    )
    return assigned.withColumn(
        "cluster_size", F.expr("count(*) OVER (PARTITION BY component)")
    )


def _duck_signature(hs: str) -> str:
    mins = ", ".join(
        f"list_min(list_transform({hs}, h -> (h * {a} + {b}) % {P31}))" for a, b in PERMS
    )
    return f"[{mins}]"


def _duck_band_keys(sig: str) -> str:
    return (
        f"list_transform(range(0, {BANDS}), "
        f"bi -> array_to_string(list_transform(list_slice({sig}, "
        f"bi * {ROWS_PER_BAND} + 1, bi * {ROWS_PER_BAND} + {ROWS_PER_BAND}), "
        f"x -> CAST(x AS VARCHAR)), '|'))"
    )


def _near_sql(s_cte: str, threshold: float = JACCARD_THRESHOLD) -> str:
    """Shared MinHash+LSH+verify oracle SQL over a caller-supplied
    CTE chain ending in ``s(doc_id, sh)`` — the DuckDB twin of
    :func:`_near_pipeline`. ``threshold=0.0`` keeps every verified
    candidate (the sensitivity sweep's base relation)."""
    return f"""
WITH {s_cte}, hs AS (
  SELECT doc_id, sh, list_transform(sh, x -> {sql_md5_long31("x")}) AS h FROM s
), sig AS (
  SELECT doc_id, sh, {_duck_signature("h")} AS g FROM hs
), bands AS (
  SELECT doc_id,
         unnest(list_transform(range(0, {BANDS}),
           bi -> {{'band_idx': bi, 'band_key': {_duck_band_keys("g")}[bi + 1]}}),
           recursive := true)
  FROM sig
), capped AS (
  SELECT * FROM (
    SELECT doc_id, band_idx, band_key,
           count(*) OVER (PARTITION BY band_idx, band_key) AS bucket_n
    FROM bands)
  WHERE bucket_n BETWEEN 2 AND {BUCKET_CAP}
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
), scored AS (
  SELECT p.doc_a, p.doc_b,
         len(sa.sh) AS n_sh_a, len(sb.sh) AS n_sh_b,
         len(list_intersect(sa.sh, sb.sh)) AS n_common
  FROM pairs p
  JOIN s sa ON sa.doc_id = p.doc_a
  JOIN s sb ON sb.doc_id = p.doc_b
)
SELECT doc_a, doc_b, n_sh_a, n_sh_b, n_common,
       CAST(n_common AS DOUBLE) / (n_sh_a + n_sh_b - n_common) AS jaccard
FROM scored
WHERE CAST(n_common AS DOUBLE) / (n_sh_a + n_sh_b - n_common) >= {threshold}
"""


_WORD_S_CTE = f"""t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), s AS (
  SELECT doc_id, {sql_word_shingles("toks", SHINGLE_N)} AS sh FROM t
)"""

_CHAR_S_CTE = f"""c AS (
  SELECT doc_id,
         list_transform(regexp_extract_all({NORM_DUCK_SQL}, '.'), x -> x) AS ch
  FROM documents WHERE length(trim(text)) > 0
), s AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(ch) - {CHARGRAM_N - 1}, 1) + 1),
           i -> array_to_string(list_slice(ch, i, i + {CHARGRAM_N - 1}), ''))) AS sh
  FROM c
)"""

DEDUP_NEAR_SQL = _near_sql(_WORD_S_CTE)
DEDUP_NEAR_CHARGRAM_SQL = _near_sql(_CHAR_S_CTE)


# ---------------------------------------------------------------------------
# Blocked fuzzy entity matching (edit distance)
# ---------------------------------------------------------------------------

#: Max edit distance for a fuzzy name match.
FUZZY_MAX_DIST = 1


def fuzzy_match_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join over ``part.p_name``: candidate
    pairs are generated per *blocking key* (the name's last token —
    the head noun), then scored with Levenshtein edit distance and
    kept under FUZZY_MAX_DIST. The blocked-self-join pattern every
    record-linkage pipeline uses: never all-pairs — candidate count
    is Σ block² over blocks, not N².

    Same lattice discipline as the MinHash dedups: the equi-join on
    the blocking key is the only shuffle, pairs are ordered
    (key_a < key_b) to halve the candidate set and de-duplicate
    mirror pairs, and the distance filter runs JVM-side
    (``levenshtein`` is a codegen builtin in Spark AND a native
    function in DuckDB — identical classic DP semantics, so the
    oracle matches exactly).

    Skew/scale design (the naive blocked self-join is degenerate
    here: ~8 distinct head nouns at EVERY SF, so block size grows
    linearly with the table and the join re-creates all-pairs on 8
    partitions — measured 80 s at sf0.1). Three rewrites, output
    identical row-for-row:

    - **Match distinct names, then expand.** Rows share names
      heavily (every real entity-matching corpus has heavy-hitter
      values), so the expensive compare runs on the DISTINCT name
      domain — |names|² work becomes |distinct names|² (~10⁴ instead
      of ~10⁷ comparisons at sf0.1) — and the verified name pairs
      broadcast back onto the keyed rows as two cheap equi-joins.
    - **Length-banded second blocking key, ±d replicated.** Edit
      distance ≤ d implies length difference ≤ d, so joining on
      (noun, length) with one side exploded to lengths [len−d,
      len+d] yields exactly the pairs the noun-only join kept after
      the distance filter — zero recall loss, each pair arises once
      (its length delta picks the unique replica), and the composite
      key spreads the shuffle over every core instead of 8.
    - **Thresholded levenshtein** (Spark 3.5+ 3-arg form): banded
      O(d·n) DP returning −1 past the cut instead of the full O(n²)
      matrix; kept rows still carry the exact distance.

    Measured at sf0.1: 80 s → 2.0 s, identical 789 615-row output.
    """
    d = FUZZY_MAX_DIST
    parts = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    # localCheckpoint (r11, guide §3.3): the distinct-name lattice
    # feeds both sides of the banded self-join — uncheckpointed, each
    # side re-ran the scan + distinct (4 parquet scans in the
    # executed plan).
    names = parts.select("p_name").distinct().select(
        "p_name",
        F.element_at(F.split("p_name", " "), -1).alias("block"),
        F.length("p_name").alias("nlen"),
    ).localCheckpoint()
    na = names.alias("na").withColumn(
        "join_len",
        F.explode(F.array(*[F.col("nlen") + F.lit(i) for i in range(-d, d + 1)])),
    )
    nb = names.alias("nb")
    dist = F.levenshtein(F.col("na.p_name"), F.col("nb.p_name"), d)
    # Both orientations (x,y)/(y,x) are kept at the name level; the
    # key_a < key_b filter below picks the orientation per row pair.
    name_pairs = (
        na.join(
            nb,
            (F.col("na.block") == F.col("nb.block"))
            & (F.col("join_len") == F.col("nb.nlen")),
        )
        .where(F.col("na.p_name") != F.col("nb.p_name"))
        .select(
            F.col("na.p_name").alias("name_a"),
            F.col("nb.p_name").alias("name_b"),
            dist.alias("dist"),
        )
        .where(F.col("dist").between(0, FUZZY_MAX_DIST))
    )
    a, b = parts.alias("pa"), parts.alias("pb")
    return (
        a.join(F.broadcast(name_pairs), F.col("pa.p_name") == F.col("name_a"))
        .join(b, F.col("name_b") == F.col("pb.p_name"))
        .where(F.col("pa.p_partkey") < F.col("pb.p_partkey"))
        .select(
            F.col("pa.p_partkey").alias("key_a"),
            F.col("pb.p_partkey").alias("key_b"),
            "name_a",
            "name_b",
            "dist",
        )
        .orderBy("key_a", "key_b")
    )


FUZZY_MATCH_NAMES_SQL = f"""
WITH p AS (
  SELECT p_partkey, p_name,
         list_extract(string_split(p_name, ' '), len(string_split(p_name, ' '))) AS block
  FROM part
)
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS dist
FROM p a JOIN p b ON a.block = b.block
WHERE a.p_partkey < b.p_partkey
  AND a.p_name != b.p_name
  AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
ORDER BY key_a, key_b
"""


# ---------------------------------------------------------------------------
# Declarative components: Spark 4 recursive CTE
# ---------------------------------------------------------------------------

#: Hop bound for the recursive closure. UNION ALL recursion walks
#: paths (Spark 4 does not yet support UNION-distinct in recursive
#: CTEs), so cycles make unbounded recursion diverge; the level cap
#: both terminates it and bounds the walk blow-up — walk count grows
#: ~degree^hops, so the cap is ALSO the cost knob (hops 6 → 4 plus
#: the pair-graph checkpoint below took sf0.1 from 25.6 s to 5.1 s
#: end-to-end with identical labels — near-dup clusters are
#: near-cliques of diameter 2-3, asserted equal to the iterative
#: Hash-Min labels in pytest at sf0.001 and by hand at sf0.1).
COMPONENTS_MAX_HOPS = 4

_COMPONENTS_REC_BODY = """sym AS (
  SELECT doc_a AS a, doc_b AS b FROM {src}
  UNION ALL
  SELECT doc_b, doc_a FROM {src}
), walk(src, dst, lvl) AS (
  SELECT n.a, n.a, 0 FROM (SELECT DISTINCT a FROM sym) AS n
  UNION ALL
  SELECT w.src, s.b, w.lvl + 1
  FROM walk w JOIN sym s ON w.dst = s.a
  WHERE w.lvl < {hops}
)
SELECT src AS doc_id, MIN(dst) AS component
FROM walk GROUP BY src ORDER BY doc_id"""


def components_recursive(
    spark: SparkSession, sf_dir: str, hops: int = COMPONENTS_MAX_HOPS
) -> DataFrame:
    """Near-duplicate clusters as a single declarative query: the
    bounded-hop transitive closure of the dedup_near pair graph via
    Spark 4's ``WITH RECURSIVE``, labeled by min reachable doc_id —
    the SQL-expressible twin of the iterative ``dedup_components``
    (which tests/test_dedup_similarity.py pins to a Python
    union-find; this query finally gives the component assignment a
    DuckDB oracle too, since both engines run the identical
    UNION ALL + hop-cap recursion).

    Covers only documents that appear in at least one near-dup pair
    (singletons are trivially their own component — the iterative
    twin reports them; see the equivalence test).

    Scale honesty: recursion materializes WALKS, not reachability —
    on a near-clique the walk count grows ~degree^hops, so this
    form is for sparse pair graphs and moderate diameters; the
    iterative Hash-Min loop in dedup_components (one join + min-agg
    per round, rows never multiply) is the 100 TB path. That
    trade-off is exactly why both exist.

    ``hops`` is the level cap. The cap is only correct while every
    node reaches its component's min doc_id within it, and the DuckDB
    oracle embeds the SAME cap — a larger-diameter pair graph would
    make both engines agree on wrong labels. The convergence test
    (tests/test_dedup_similarity.py) therefore asserts labels at
    ``hops`` equal labels at ``hops - 1``: convergence with a full
    hop of slack, so a fixture regen that raises the graph diameter
    fails loudly instead of silently.
    """
    # localCheckpoint materializes the pair graph ONCE: the recursion
    # references this relation at every level, and without truncation
    # each level would re-execute the full MinHash+LSH pipeline behind
    # the view (measured 19 s vs 4 s at sf0.1). Same reasoning as the
    # per-round checkpoint in dedup_components.
    pairs = dedup_near(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint()
    pairs.createOrReplaceTempView("_components_rec_pairs")
    return spark.sql(
        "WITH RECURSIVE "
        + _COMPONENTS_REC_BODY.format(src="_components_rec_pairs", hops=hops)
    )


COMPONENTS_RECURSIVE_SQL = (
    "WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ("
    + DEDUP_NEAR_SQL
    + ") t), "
    + _COMPONENTS_REC_BODY.format(src="pairs", hops=COMPONENTS_MAX_HOPS)
)


# ---------------------------------------------------------------------------
# Exact-substring dedup via winnowed long char-grams
# ---------------------------------------------------------------------------

#: Char-gram length for substring matching (over normalized text).
SUBSTR_GRAM = 20
#: Winnow window, in gram positions: every run of SUBSTR_WINDOW
#: consecutive gram hashes contributes its (leftmost) minimum.
SUBSTR_WINDOW = 8
#: Max docs sharing one selected gram before it's treated as
#: boilerplate and dropped (same quadratic-straggler guard as
#: BUCKET_CAP — a site-wide footer would otherwise pair everything
#: with everything).
SUBSTR_CAP = 50


def _substr_grams_expr() -> str:
    """Spark SQL expression: the winnow-selected SUBSTR_GRAM-char
    substrings of the normalized text, distinct, as array<string>.

    Let-binding idiom from text_fingerprint: nrm, its codepoint
    array, and the per-position gram-hash array are each bound ONCE
    with ``transform(array(x), v -> body)[0]`` so Catalyst's
    CollapseProject can't inline the O(n) subtrees into every
    lambda (the measured 100-300x constant factor from r1)."""
    g, w, mod = SUBSTR_GRAM, SUBSTR_WINDOW, ROLL_MOD
    cp = "transform(regexp_extract_all(nrm, '.', 0), ch -> cast(ascii(ch) AS bigint))"
    hs = (
        f"transform(sequence(1, greatest(size(cp) - {g - 1}, 1)), "
        f"i -> aggregate(slice(cp, i, {g}), 0L, (a, c) -> (a * 31 + c) % {mod}))"
    )
    sel = (
        f"array_distinct(transform(sequence(1, greatest(size(hs) - {w - 1}, 1)), "
        f"j -> j + array_position(slice(hs, j, {w}), array_min(slice(hs, j, {w}))) - 1))"
    )
    return (
        f"transform(array({NORM_SPARK_SQL}), nrm -> "
        f"transform(array({cp}), cp -> "
        f"transform(array({hs}), hs -> "
        f"array_distinct(transform({sel}, i -> substring(nrm, cast(i AS int), {g})))"
        f")[0])[0])[0]"
    )


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate pairs (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"):
    documents sharing a long verbatim character run, found via
    winnowing (Schleimer et al., MOSS) instead of a suffix array.

    Each document contributes the winnow-selected SUBSTR_GRAM-char
    grams of its normalized text: per position a polynomial hash of
    the gram, and every SUBSTR_WINDOW-window's leftmost minimum is
    selected. Selection is content-defined, so two documents
    sharing a normalized substring of length >= SUBSTR_GRAM +
    SUBSTR_WINDOW - 1 select at least one identical gram inside the
    shared region — the winnowing guarantee — and the join key is
    the gram TEXT itself, so every reported pair truly shares a
    >= SUBSTR_GRAM-char substring (no false positives, unlike
    hash-only fingerprint joins).

    Scale: the per-doc stage is map-only codegen, O(n * GRAM) int
    ops; winnowing emits ~n/((WINDOW+1)/2) grams per doc, so the
    shuffle carries a bounded multiple of the input rows (the same
    density MOSS runs at). Pairs come only from an equi-join on
    gram, with SUBSTR_CAP dropping boilerplate grams exactly like
    BUCKET_CAP drops degenerate LSH buckets — never all-pairs. The
    suffix-array formulation is O(n) too but needs a global sort of
    every suffix; the winnow join is embarrassingly partition-
    parallel, which is why production pipelines (e.g. Dolma,
    RedPajama-v2 tooling) ship the n-gram/winnow form.

    Reference has no dedup surface (single-table SELECT,
    app/main.py:479); EXT X1 north star.
    """
    # conditional doc_id spread (guide §2.5): gram explosion is the
    # heavy map stage; no-op at scale
    docs = load_spread(spark, sf_dir, "documents", "doc_id").where(
        F.length(F.expr(NORM_SPARK_SQL)) >= SUBSTR_GRAM
    )
    g = docs.select("doc_id", F.explode(F.expr(_substr_grams_expr())).alias("gram"))
    # Consumed by both sides of the self-join: materialize once
    # (same reasoning as the bands checkpoint in _near_pipeline;
    # eager=False r12 sweep — text/integer values, order-safe).
    g = g.withColumn(
        "gram_n", F.expr("count(*) OVER (PARTITION BY gram)")
    ).where(F.col("gram_n").between(2, SUBSTR_CAP)).localCheckpoint(
        eager=False
    )
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.gram") == F.col("b.gram"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_grams"))
    )


DEDUP_SUBSTRING_SQL = f"""
WITH d AS (
  SELECT doc_id, {NORM_DUCK_SQL} AS nrm FROM documents
  WHERE length({NORM_DUCK_SQL}) >= {SUBSTR_GRAM}
), c AS (
  SELECT doc_id, nrm,
         list_transform(regexp_extract_all(nrm, '.'),
                        ch -> CAST(unicode(ch) AS BIGINT)) AS cp
  FROM d
), h AS (
  SELECT doc_id, nrm,
         list_transform(range(1, greatest(len(cp) - {SUBSTR_GRAM - 1}, 1) + 1),
           i -> list_reduce(list_concat([CAST(0 AS BIGINT)],
                  list_slice(cp, i, i + {SUBSTR_GRAM - 1})),
                (a, x) -> (a * 31 + x) % {ROLL_MOD})) AS hs
  FROM c
), sel AS (
  SELECT doc_id, nrm,
         list_distinct(list_transform(
           range(1, greatest(len(hs) - {SUBSTR_WINDOW - 1}, 1) + 1),
           j -> j + list_position(list_slice(hs, j, j + {SUBSTR_WINDOW - 1}),
                  list_min(list_slice(hs, j, j + {SUBSTR_WINDOW - 1}))) - 1)) AS pos
  FROM h
), g AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(pos,
             i -> substr(nrm, CAST(i AS INTEGER), {SUBSTR_GRAM}))) AS gram
    FROM sel)
), capped AS (
  SELECT doc_id, gram FROM (
    SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS gram_n FROM g)
  WHERE gram_n BETWEEN 2 AND {SUBSTR_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_grams
FROM capped a JOIN capped b ON a.gram = b.gram AND a.doc_id < b.doc_id
GROUP BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------

#: Deterministic batch split: every 5th doc_id plays the "new
#: arrivals" role; the rest are the standing corpus.
INCR_MOD = 5


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup: classify each NEW document against the
    standing corpus as ``exact`` (identical normalized text),
    ``near`` (MinHash-banded candidate verified at Jaccard >=
    JACCARD_THRESHOLD), or ``new`` — with the matched corpus doc
    (min doc_id; exact wins over near). Within-batch duplicates are
    out of scope here by design: they are the batch's own
    dedup_exact/dedup_near pass.

    This is the INCREMENTAL shape that makes dedup affordable on a
    growing 100 TB corpus: the standing corpus's fingerprints, bands
    and shingle sets are exactly what dedup_exact/dedup_near already
    computed and would be PERSISTED (a snapshots.py table keyed by
    band); each new batch then joins its own (small) bands against
    that index — cost proportional to the batch, never a corpus
    re-scan. Here both sides derive from one fixture table split
    deterministically (doc_id % INCR_MOD), so the oracle can see the
    whole computation; the plan shape (band equi-join batch x corpus
    with the shared BUCKET_CAP guard, verify on candidates only) is
    unchanged by where the corpus side comes from.
    """
    docs = (
        # conditional doc_id spread (guide §2.5): md5 + shingling
        # feed an eager checkpoint — spread parallelizes both
        load_spread(spark, sf_dir, "documents", "doc_id")
        .where(F.length(F.trim("text")) > 0)
        .withColumn("is_new", (F.col("doc_id") % INCR_MOD) == 0)
        .withColumn(
            "fp_md5",
            F.expr(
                f"cast(conv(substring(md5({NORM_SPARK_SQL}), 1, 15), 16, 10) AS bigint)"
            ),
        )
    )
    toks = "split(trim(text), '\\\\s+')"
    s = docs.select(
        "doc_id", "is_new", "fp_md5", F.expr(_spark_shingles(toks)).alias("sh")
    ).localCheckpoint(eager=False)  # r12 sweep: 1.81 -> 1.63 s

    # exact: batch fp joins corpus fp; min corpus id per new doc
    new_fp = s.where("is_new").select(
        F.col("doc_id").alias("new_id"), "fp_md5"
    )
    old_fp = s.where("NOT is_new").select(
        F.col("doc_id").alias("old_id"), "fp_md5"
    )
    exact = (
        new_fp.join(old_fp, "fp_md5")
        .groupBy("new_id")
        .agg(F.min("old_id").alias("exact_id"))
    )

    # near: banded candidates across the split, verify on candidates
    sig = s.select(
        "doc_id", "is_new", F.expr(_spark_signature("sh")).alias("sig")
    )
    bands = sig.select(
        "doc_id",
        "is_new",
        F.posexplode(F.expr(_spark_band_keys("sig"))).alias("band_idx", "band_key"),
    )
    bands = (
        bands.withColumn(
            "bucket_n", F.expr("count(*) OVER (PARTITION BY band_idx, band_key)")
        )
        .where(F.col("bucket_n").between(2, BUCKET_CAP))
        .localCheckpoint(eager=False)  # r12 sweep, with s above
    )
    nb = bands.where("is_new").select(
        F.col("doc_id").alias("new_id"), "band_idx", "band_key"
    )
    ob = bands.where("NOT is_new").select(
        F.col("doc_id").alias("old_id"), "band_idx", "band_key"
    )
    cand = nb.join(ob, ["band_idx", "band_key"]).select("new_id", "old_id").distinct()
    sa = s.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("sh_a"))
    sb = s.select(F.col("doc_id").alias("old_id"), F.col("sh").alias("sh_b"))
    near = (
        cand.join(sa, "new_id")
        .join(sb, "old_id")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .groupBy("new_id")
        .agg(F.min("old_id").alias("near_id"))
    )

    batch = s.where("is_new").select(F.col("doc_id"))
    return (
        batch.join(exact, batch.doc_id == exact.new_id, "left")
        .drop("new_id")
        .join(near, batch.doc_id == near.new_id, "left")
        .drop("new_id")
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN exact_id IS NOT NULL THEN 'exact' "
                "WHEN near_id IS NOT NULL THEN 'near' ELSE 'new' END"
            ).alias("verdict"),
            F.coalesce("exact_id", "near_id").alias("match_id"),
        )
        .orderBy("doc_id")
    )


DEDUP_INCREMENTAL_SQL = f"""
WITH t AS (
  SELECT doc_id, doc_id % {INCR_MOD} = 0 AS is_new,
         {sql_md5_long60(NORM_DUCK_SQL)} AS fp_md5,
         string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), s AS (
  SELECT doc_id, is_new, fp_md5, {sql_word_shingles("toks", SHINGLE_N)} AS sh FROM t
), exact AS (
  SELECT n.doc_id AS new_id, MIN(o.doc_id) AS exact_id
  FROM s n JOIN s o ON n.fp_md5 = o.fp_md5 AND n.is_new AND NOT o.is_new
  GROUP BY n.doc_id
), hs AS (
  SELECT doc_id, is_new, sh, list_transform(sh, x -> {sql_md5_long31("x")}) AS h FROM s
), sig AS (
  SELECT doc_id, is_new, {_duck_signature("h")} AS g FROM hs
), bands AS (
  SELECT doc_id, is_new,
         unnest(list_transform(range(0, {BANDS}),
           bi -> {{'band_idx': bi, 'band_key': {_duck_band_keys("g")}[bi + 1]}}),
           recursive := true)
  FROM sig
), capped AS (
  SELECT * FROM (
    SELECT doc_id, is_new, band_idx, band_key,
           count(*) OVER (PARTITION BY band_idx, band_key) AS bucket_n
    FROM bands)
  WHERE bucket_n BETWEEN 2 AND {BUCKET_CAP}
), cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
  FROM capped n JOIN capped o
    ON n.band_idx = o.band_idx AND n.band_key = o.band_key
   AND n.is_new AND NOT o.is_new
), near AS (
  SELECT new_id, MIN(old_id) AS near_id FROM (
    SELECT c.new_id, c.old_id,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
    FROM cand c
    JOIN s sa ON sa.doc_id = c.new_id
    JOIN s sb ON sb.doc_id = c.old_id)
  WHERE jaccard >= {JACCARD_THRESHOLD}
  GROUP BY new_id
)
SELECT b.doc_id,
       CASE WHEN exact.exact_id IS NOT NULL THEN 'exact'
            WHEN near.near_id IS NOT NULL THEN 'near' ELSE 'new' END AS verdict,
       COALESCE(exact.exact_id, near.near_id) AS match_id
FROM (SELECT doc_id FROM s WHERE is_new) b
LEFT JOIN exact ON b.doc_id = exact.new_id
LEFT JOIN near ON b.doc_id = near.new_id
ORDER BY doc_id
"""


def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication matrix: for every unordered
    source pair, how many verified near-duplicate pairs connect them
    — the provenance audit that answers "which of my feeds copy from
    each other" before mixture weights are chosen (mix_sources) and
    the question a dedup run's savings estimate is broken down by.

    Composition: dedup_near's banded-LSH pair lattice (cost argument
    lives there) joined back to the documents table for each side's
    source label, then ONE |sources|²-bounded aggregate; the pair
    label is canonicalized (least/greatest) so A→B and B→A land in
    one cell. within_source marks the diagonal.
    """
    pairs = dedup_near(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    sb = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
        )
        .groupBy("source_x", "source_y")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
        .withColumn("within_source", F.col("source_x") == F.col("source_y"))
        .orderBy(F.desc("n_dup_pairs"), "source_x", "source_y")
    )


SOURCE_OVERLAP_SQL = f"""
WITH near AS ({DEDUP_NEAR_SQL}),
labeled AS (
  SELECT least(da.source, db.source) AS source_x,
         greatest(da.source, db.source) AS source_y
  FROM near
  JOIN documents da ON near.doc_a = da.doc_id
  JOIN documents db ON near.doc_b = db.doc_id
)
SELECT source_x, source_y, COUNT(*) AS n_dup_pairs,
       source_x = source_y AS within_source
FROM labeled
GROUP BY source_x, source_y
ORDER BY n_dup_pairs DESC, source_x, source_y
"""


def dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup headline report: one row of exact-dedup savings —
    documents and token mass before/after keeping only canonical
    representatives — the number every dedup run is judged by
    ("exact dedup removed X% of tokens") and the datacard's
    companion scalar.

    Plan: dedup_exact's single fp-window pass extended with the
    per-doc token count, then ONE 1-row aggregate. No new shuffle
    class; at 100 TB this is the same cost as the dedup itself.

    Token counts follow the suite-wide whitespace convention
    (split trimmed text on the whitespace-class regex —
    text_token_stats et al.). Two documented edges of that
    convention: Java and RE2 disagree on vertical-tab membership in
    the whitespace class (a doc containing one would diverge
    cross-engine), and trim() strips spaces only, so a
    newline-led doc counts one leading empty token — both moot on
    the fixtures and inherited here verbatim so the savings number
    stays comparable with every other token statistic the engine
    reports.
    """
    docs = (
        # spread reverted (r11 A/B): the exchange cost the fixture +0.31 s vs no-spread at sf0.1; map work here is too light to earn it
        load_table(spark, sf_dir, "documents")
        .where(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
            F.expr(
                f"cast(conv(substring(md5({NORM_SPARK_SQL}), 1, 15), 16, 10) AS bigint)"
            ).alias("fp_md5"),
        )
    )
    flagged = docs.select(
        "n_tokens",
        F.expr(
            "doc_id = min(doc_id) OVER (PARTITION BY fp_md5)"
        ).alias("is_canonical"),
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("is_canonical").cast("bigint")).alias("n_kept"),
        F.sum((~F.col("is_canonical")).cast("bigint")).alias("n_removed"),
        F.sum("n_tokens").alias("tokens_total"),
        F.sum(
            F.when(F.col("is_canonical"), F.col("n_tokens")).otherwise(0)
        ).alias("tokens_kept"),
        F.sum(
            F.when(~F.col("is_canonical"), F.col("n_tokens")).otherwise(0)
        ).alias("tokens_removed"),
    )


DEDUP_SAVINGS_SQL = f"""
WITH d AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         {sql_md5_long60(NORM_DUCK_SQL)} AS fp_md5
  FROM documents WHERE length(trim(text)) > 0
), flagged AS (
  SELECT n_tokens,
         doc_id = min(doc_id) OVER (PARTITION BY fp_md5) AS is_canonical
  FROM d
)
SELECT COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN is_canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN is_canonical THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
       CAST(SUM(CASE WHEN is_canonical THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
       CAST(SUM(CASE WHEN is_canonical THEN 0 ELSE n_tokens END) AS BIGINT) AS tokens_removed
FROM flagged
"""


def component_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: how many near-dup
    components have 2 members, 3, … — the shape report that decides
    dedup strategy (a fat tail of giant clusters means boilerplate/
    template content and argues for substring or chunk-level dedup;
    mostly-pairs means organic near-copies). Composes on
    components_recursive's labeled graph; two tiny aggregates over
    the |paired docs| relation — the recursion dominates, priced in
    its own docstring.
    """
    comp = components_recursive(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return (
        sizes.groupBy("component_size")
        .agg(
            F.count(F.lit(1)).alias("n_components"),
            F.min("component").alias("sample_component"),
        )
        .orderBy("component_size")
    )


COMPONENT_SIZE_HISTOGRAM_SQL = f"""
WITH labeled AS ({COMPONENTS_RECURSIVE_SQL}),
sizes AS (
  SELECT component, COUNT(*) AS component_size
  FROM labeled GROUP BY component
)
SELECT component_size, COUNT(*) AS n_components,
       CAST(MIN(component) AS BIGINT) AS sample_component
FROM sizes
GROUP BY component_size
ORDER BY component_size
"""


# ---------------------------------------------------------------------------
# Exact token-Jaccard k-nearest documents (round 5)
# ---------------------------------------------------------------------------

#: Relative document-frequency cap: terms in more than 1/JKNN_DF_DIV
#: of all docs carry no similarity signal (stopwords) and would each
#: generate df² posting pairs — dropping them bounds the per-term
#: pair volume at (N/JKNN_DF_DIV)² and is part of the operator
#: contract (Jaccard over the discriminative term projection), not
#: an approximation knob. Relative, not absolute: an absolute cap
#: silently empties the projection as the corpus grows past it.
JKNN_DF_DIV = 20

#: Neighbors reported per document.
JKNN_K = 3


def doc_jaccard_knn(
    spark: SparkSession, sf_dir: str, *, k: int = JKNN_K
) -> DataFrame:
    """Exact Jaccard k-nearest-neighbor documents over the
    discriminative-term projection: for every doc, the JKNN_K most
    token-set-similar docs — the exact complement to the minhash
    estimate (dedup_near generates CANDIDATES above a threshold;
    this ranks every doc's neighborhood, the shape dedup review
    queues and contamination triage consume).

    Intersections come from the inverted-posting self-join (pairs
    exist only where a shared term exists — no all-pairs shape
    anywhere); the relative DF cap (df ≤ N/JKNN_DF_DIV)
    bounds any term's contribution to the pair lattice at corpus
    scale, the same quadratic-straggler guard as BUCKET_CAP.
    Sizes and Jaccard are computed over the SAME capped projection,
    so the ratio is a true Jaccard of the projected sets. Score is
    ``inter·S DIV union`` — pure BIGINT, order-invariant.

    At 100 TB: posting join shuffles on term, pair agg on (a, b),
    size join on doc_id, final window on doc_id — every exchange
    carries pre-aggregated bounded rows; the df cap is what keeps
    the term shuffle from being quadratic in hot terms.
    """
    from ensembl_lakehouse_spark.operators.text import _docs_with_tokens

    toks = _docs_with_tokens(spark, sf_dir)
    # localCheckpoints (r11, guide §3.3): doc_terms feeds n_docs,
    # df_ok AND kept; kept feeds sizes AND both posting-join sides;
    # inter feeds both directions of the neighbor union —
    # uncheckpointed, the executed plan re-ran tokenize + explode +
    # distinct EIGHTEEN times.
    # Each lattice now materializes exactly once; all three are
    # row-bounded (distinct doc-term pairs, the df-capped projection,
    # and the posting-join pair aggregate). eager=False (r12 sweep):
    # lazy defers each final stage + block write into the consumer
    # job — matched A/B 2.19 s (eager) vs 1.54 s (lazy); integer/
    # string values, order-safe.
    doc_terms = toks.select(
        "doc_id", F.explode("toks").alias("term")
    ).distinct().localCheckpoint(eager=False)
    n_docs = doc_terms.agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    df_ok = (
        doc_terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .where(F.expr(f"df * {JKNN_DF_DIV} <= n_docs"))
        .select("term")
    )
    kept = doc_terms.join(df_ok, "term").localCheckpoint(eager=False)
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_terms"))
    a = kept.select(F.col("term").alias("t"), F.col("doc_id").alias("doc_a"))
    b = kept.select(F.col("term").alias("t2"), F.col("doc_id").alias("doc_b"))
    inter = (
        a.join(b, (F.col("t") == F.col("t2")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .localCheckpoint(eager=False)
    )
    directed = inter.selectExpr(
        "doc_a AS doc_id", "doc_b AS neighbor_id", "inter"
    ).unionByName(
        inter.selectExpr("doc_b AS doc_id", "doc_a AS neighbor_id", "inter")
    )
    scored = (
        directed.join(sizes, "doc_id")
        .join(
            sizes.selectExpr(
                "doc_id AS neighbor_id", "n_terms AS n_terms_b"
            ),
            "neighbor_id",
        )
        .withColumn(
            "jac_bp",
            F.expr("(inter * 10000) DIV (n_terms + n_terms_b - inter)"),
        )
    )
    return (
        scored.withColumn(
            "rank",
            F.expr(
                "row_number() OVER (PARTITION BY doc_id "
                "ORDER BY jac_bp DESC, neighbor_id ASC)"
            ),
        )
        .where(F.col("rank") <= k)
        .select("doc_id", "rank", "neighbor_id", "inter", "jac_bp")
        .orderBy("doc_id", "rank")
    )


DOC_JACCARD_KNN_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), doc_terms AS (
  SELECT DISTINCT doc_id, unnest(toks) AS term FROM t
), nd AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM doc_terms
), df_ok AS (
  SELECT term FROM doc_terms GROUP BY term
  HAVING COUNT(*) * {JKNN_DF_DIV} <= (SELECT n_docs FROM nd)
), kept AS (
  SELECT d.doc_id, d.term FROM doc_terms d JOIN df_ok USING (term)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_terms FROM kept GROUP BY 1
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM kept a
  JOIN kept b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), directed AS (
  SELECT doc_a AS doc_id, doc_b AS neighbor_id, inter FROM inter
  UNION ALL
  SELECT doc_b AS doc_id, doc_a AS neighbor_id, inter FROM inter
), scored AS (
  SELECT d.doc_id, d.neighbor_id, d.inter,
         (d.inter * 10000) // (sa.n_terms + sb.n_terms - d.inter) AS jac_bp
  FROM directed d
  JOIN sizes sa ON sa.doc_id = d.doc_id
  JOIN sizes sb ON sb.doc_id = d.neighbor_id
), ranked AS (
  SELECT doc_id, neighbor_id, inter, jac_bp,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY jac_bp DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT doc_id, rank, neighbor_id, CAST(inter AS BIGINT) AS inter,
       CAST(jac_bp AS BIGINT) AS jac_bp
FROM ranked WHERE rank <= {JKNN_K}
ORDER BY doc_id, rank
"""


# ---------------------------------------------------------------------------
# Cluster keep-list (round 5): canonical representatives + drop mass
# ---------------------------------------------------------------------------

def dedup_cluster_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup decision a pipeline actually ships: per near-dup
    cluster its canonical representative (min doc_id — the component
    label by construction), member count, the token mass KEPT (the
    representative's) and DROPPED (everyone else's). dedup_savings
    reports the corpus-level headline; this is the row-level keep
    list a curation run materializes and audits.

    Composes on components_recursive's labeled graph + one broadcast-
    friendly join to the per-doc whitespace token counts; aggregates
    move |paired docs| rows — the recursion dominates, priced in its
    own docstring.
    """
    from ensembl_lakehouse_spark.operators.text import _docs_with_tokens

    comp = components_recursive(spark, sf_dir)
    tokens = _docs_with_tokens(spark, sf_dir).select(
        "doc_id", F.size("toks").alias("n_tokens")
    )
    labeled = comp.join(tokens, "doc_id")
    return (
        labeled.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(
                F.when(F.col("doc_id") == F.col("component"), F.col("n_tokens"))
                .otherwise(F.lit(0))
            ).alias("tokens_kept"),
            F.sum(
                F.when(F.col("doc_id") != F.col("component"), F.col("n_tokens"))
                .otherwise(F.lit(0))
            ).alias("tokens_dropped"),
        )
        .where(F.col("n_members") > 1)
        .select(
            F.col("component").alias("keep_doc_id"),
            "n_members",
            F.col("tokens_kept").cast("bigint").alias("tokens_kept"),
            F.col("tokens_dropped").cast("bigint").alias("tokens_dropped"),
        )
        .orderBy("keep_doc_id")
    )


DEDUP_CLUSTER_KEEP_LIST_SQL = f"""
WITH labeled AS ({COMPONENTS_RECURSIVE_SQL}),
tok AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM documents WHERE length(trim(text)) > 0
)
SELECT l.component AS keep_doc_id,
       COUNT(*) AS n_members,
       CAST(SUM(CASE WHEN l.doc_id = l.component THEN t.n_tokens ELSE 0 END)
            AS BIGINT) AS tokens_kept,
       CAST(SUM(CASE WHEN l.doc_id <> l.component THEN t.n_tokens ELSE 0 END)
            AS BIGINT) AS tokens_dropped
FROM labeled l JOIN tok t ON t.doc_id = l.doc_id
GROUP BY l.component
HAVING COUNT(*) > 1
ORDER BY keep_doc_id
"""


def dedup_cluster_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster QUALITY audit (r8 VERDICT #5): for every
    non-canonical member, the exact shingle Jaccard against its
    cluster's canonical representative, rolled up per cluster size —
    what fraction of the keep-list's DROP decisions are backed by a
    direct ≥ 0.8 similarity to the kept doc (transitive closure can
    chain A~B~C where A and C are only 0.5-similar; this measures
    how often). Low precision at large cluster sizes is the classic
    LSH-chaining failure — tighten the threshold or band count
    before shipping the keep list.

    Cost honesty: member↔representative pairs only — exactly
    |members| − |clusters| rescores, never pairwise within clusters.
    The 0.8 gate is the integer cross-multiplication
    (10·common ≥ 8·union), so the verdict is engine-exact.
    """
    # localCheckpoints (r11, guide §3.3): labeled feeds sizes AND the
    # member-pair probe — uncheckpointed, the recursion's final label
    # aggregation ran twice; the shingle projection feeds both the
    # member and the representative join sides — uncheckpointed,
    # tokenize + shingle ran twice. Both are |paired docs|-bounded.
    labeled = components_recursive(spark, sf_dir).localCheckpoint()
    s = _shingled(spark, sf_dir).localCheckpoint()
    sizes = labeled.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    scored = (
        labeled.where(F.col("doc_id") != F.col("component"))
        .join(s.select("doc_id", F.col("sh").alias("sh_m")), "doc_id")
        .join(
            s.select(
                F.col("doc_id").alias("component"),
                F.col("sh").alias("sh_k"),
            ),
            "component",
        )
        .select(
            "component",
            F.size(F.array_intersect("sh_m", "sh_k")).alias("n_common"),
            (
                F.size("sh_m") + F.size("sh_k")
                - F.size(F.array_intersect("sh_m", "sh_k"))
            ).alias("n_union"),
        )
        .withColumn(
            "ok", (F.col("n_common") * 10 >= F.col("n_union") * 8).cast("int")
        )
    )
    return (
        scored.join(F.broadcast(sizes), "component")
        .groupBy("n_members")
        .agg(
            F.countDistinct("component").cast("long").alias("n_clusters"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("ok").cast("long").alias("ok_pairs"),
        )
        .withColumn(
            "precision_bp", F.expr("(ok_pairs * 10000) DIV n_pairs")
        )
        .orderBy("n_members")
    )


DEDUP_CLUSTER_PRECISION_SQL = f"""
WITH labeled AS ({COMPONENTS_RECURSIVE_SQL}),
ptok AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), psh AS (
  SELECT doc_id, {sql_word_shingles("toks", SHINGLE_N)} AS sh FROM ptok
), sizes AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM labeled GROUP BY 1
), scored AS (
  SELECT l.component,
         len(list_intersect(m.sh, k.sh)) AS n_common,
         len(m.sh) + len(k.sh) - len(list_intersect(m.sh, k.sh))
           AS n_union
  FROM labeled l
  JOIN psh m ON m.doc_id = l.doc_id
  JOIN psh k ON k.doc_id = l.component
  WHERE l.doc_id <> l.component
), verdicts AS (
  SELECT sz.n_members, s.component,
         CASE WHEN s.n_common * 10 >= s.n_union * 8 THEN 1 ELSE 0 END
           AS ok
  FROM scored s JOIN sizes sz ON s.component = sz.component
)
SELECT n_members,
       CAST(COUNT(DISTINCT component) AS BIGINT) AS n_clusters,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(ok) AS BIGINT) AS ok_pairs,
       (CAST(SUM(ok) AS BIGINT) * 10000) // CAST(COUNT(*) AS BIGINT)
         AS precision_bp
FROM verdicts
GROUP BY n_members
ORDER BY n_members
"""


# ---------------------------------------------------------------------------
# dedup_rate_by_batch (r10)
# ---------------------------------------------------------------------------

#: Ingest-batch width for the dedup-rate trend (doc_id DIV width —
#: the deterministic stand-in for per-commit batches; the snapshot
#: twin replays the ``_txns`` ledger instead).
DEDUP_BATCH_WIDTH = 100


def dedup_rate_by_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the duplicate rate of INCOMING batches trending up? Docs
    are bucketed into ingest batches (doc_id DIV width — against
    snapshot tables the batches come from the ``_txns`` commit
    ledger); a doc is a DUP if its canonical signature (lowercased
    alphanumeric prefix, the cheap first-pass screen ahead of
    MinHash) already appeared in an earlier doc. Per batch: docs,
    dups, rate (bp), distinct sources — the feed-health dial that
    says a crawler started re-fetching BEFORE the expensive LSH
    pass or storage bill notices.

    Plan (100 TB): the signature is map-side; first-occurrence is a
    signature-PARTITIONED row_number (keyed window, never global);
    the final agg is ≤ batches rows."""
    # spread reverted (r11 A/B): the exchange cost the fixture +0.24 s vs no-spread at sf0.1; map work here is too light to earn it
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr("doc_id DIV " + str(DEDUP_BATCH_WIDTH)).alias("batch"),
        F.expr(
            "substring(lower(regexp_replace(text, '[^a-zA-Z0-9]', '')),"
            " 1, 64)"
        ).alias("sig"),
    )
    flagged = docs.withColumn(
        "rn",
        F.expr(
            "row_number() OVER (PARTITION BY sig ORDER BY doc_id)"
        ),
    )
    return (
        flagged.groupBy("batch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.expr("CASE WHEN rn > 1 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_dups"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
        .withColumn("dup_rate_bp", F.expr("(n_dups * 10000) DIV n_docs"))
        .orderBy("batch")
    )


DEDUP_RATE_BY_BATCH_SQL = f"""
WITH docs AS (
  SELECT doc_id, source,
         doc_id // {DEDUP_BATCH_WIDTH} AS batch,
         substr(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')),
                1, 64) AS sig
  FROM documents
), flagged AS (
  SELECT batch, source,
         row_number() OVER (PARTITION BY sig ORDER BY doc_id) AS rn
  FROM docs
)
SELECT batch,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST((SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) * 10000)
            // COUNT(*) AS BIGINT) AS dup_rate_bp
FROM flagged
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# dedup_threshold_sensitivity (r11)
# ---------------------------------------------------------------------------

#: Jaccard thresholds (percent) the sensitivity sweep prices.
SENSITIVITY_THRESHOLDS_PCT = (50, 70, 80, 90)


def dedup_threshold_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup-policy calibration: the surviving near-dup pair count
    and flagged-doc count at FOUR Jaccard thresholds (50/70/80/90 %)
    from ONE MinHash+LSH+verify pass — the
    session_threshold_sensitivity pattern applied to dedup. The
    production threshold (JACCARD_THRESHOLD = 0.8) is a policy knob;
    this table is what makes choosing it an informed decision: a
    cliff between 70 and 80 means the corpus has a near-dup family
    right at the boundary, a flat curve means the choice is free.
    'Flagged' counts distinct doc_b over surviving pairs — the docs
    a keep-smallest policy would drop before transitive closure
    (dedup_components prices the closure). Survival is the exact
    INTEGER cross-comparison ``n_common·100 ≥ t·union`` — no double
    ever enters a threshold decision, so both engines band
    identically.

    Plan (100 TB): the shared banded-LSH candidate lattice (bucket
    caps, checkpointed shingles — never all-pairs) evaluated ONCE at
    threshold 0; the sweep is a 4× explode of the verified PAIR set
    (pairs ≪ docs), one ≤4-row agg. Thresholds with zero survivors
    still report (conditional sums, not a filter)."""
    scored = _near_pipeline(_shingled(spark, sf_dir), threshold=0.0)
    tarr = ", ".join(str(t) for t in SENSITIVITY_THRESHOLDS_PCT)
    swept = scored.select(
        "doc_b",
        F.expr("n_sh_a + n_sh_b - n_common").alias("n_union"),
        "n_common",
        F.explode(F.expr(f"array({tarr})")).alias("threshold_pct"),
    ).withColumn(
        "survives",
        F.expr("CASE WHEN n_common * 100 >= threshold_pct * n_union "
               "THEN 1 ELSE 0 END"),
    )
    return (
        swept.groupBy("threshold_pct")
        .agg(
            F.sum("survives").cast("long").alias("n_pairs"),
            F.countDistinct(
                F.expr("CASE WHEN survives = 1 THEN doc_b END")
            ).cast("long").alias("n_flagged_docs"),
        )
        .orderBy("threshold_pct")
    )


DEDUP_THRESHOLD_SENSITIVITY_SQL = f"""
WITH all_scored AS ({_near_sql(_WORD_S_CTE, 0.0)}),
swept AS (
  SELECT doc_b, n_sh_a + n_sh_b - n_common AS n_union, n_common,
         unnest([{", ".join(str(t) for t in SENSITIVITY_THRESHOLDS_PCT)}])
           AS threshold_pct
  FROM all_scored
)
SELECT threshold_pct,
       CAST(SUM(CASE WHEN n_common * 100 >= threshold_pct * n_union
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT CASE WHEN n_common * 100
                                     >= threshold_pct * n_union
                                THEN doc_b END) AS BIGINT)
         AS n_flagged_docs
FROM swept
GROUP BY 1
ORDER BY 1
"""
