"""Text-analysis operators over the ``documents`` table (EXT X3).

The reference has no text processing at all (SURVEY §2: scalar
functions are fully delegated to Athena, app/main.py:477-479); these
are the north-star LLM-pipeline operators: token statistics,
language ID, quality scoring, and document fingerprinting.

Design rules shared by every query here:

- **Pure JVM expressions** (split / transform / filter / aggregate
  higher-order functions) — no Python UDFs, so the whole pipeline
  stays inside whole-stage codegen and scales linearly with input
  splits: per-document work is O(chars), there is **zero shuffle**
  until the (optional) final ORDER BY.
- **Deterministic & oracle-checked**: every float is produced by an
  identical index-ordered expression tree in the DuckDB twin, so the
  driver's value-hash comparison matches bit-for-bit.
- At 100 TB: these are embarrassingly parallel map-only plans; the
  only tuning needed is input split size (maxPartitionBytes) — no
  keys, no skew, no repartitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ensembl_lakehouse_spark.functions.hashing import ROLL_MOD, sql_md5_long60
from ensembl_lakehouse_spark.functions.stats import pearson_e6
from ensembl_lakehouse_spark.functions.text import (
    BPE_REGEX,
    NORM_DUCK_SQL,
    NORM_SPARK_SQL,
    sql_word_shingles,
    whitespace_tokens,
    word_shingles,
)
from ensembl_lakehouse_spark.sources.tables import load_spread, load_table

# Deterministic marker token sets for the n-gram language-ID
# heuristic. The fixture corpus shares one 31-word vocabulary across
# all languages, so the markers are arbitrary-but-fixed partitions of
# that vocabulary — the *mechanism* (hit-count scoring + argmax with
# alphabetical tie-break) is the real operator under test.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("table", "row", "column", "key"),
    "en": ("the", "a", "fast", "slow"),
    "es": ("data", "value", "part", "line"),
    "fr": ("query", "join", "merge", "sort"),
    "zh": ("hash", "scan", "batch", "stream"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "and", "of", "to", "in")

#: Winnowing window width (chars) for the fingerprint shingle pass.
FP_WINDOW = 8


def _docs_with_tokens(
    spark: SparkSession, sf_dir: str, spread: bool = True
) -> DataFrame:
    """documents + whitespace token array (shared prep); tokenizer
    comes from functions.text so operator and helper can't drift.

    The scan is conditionally spread by doc_id (guide §2.5: the
    single-row-group fixture file otherwise tokenizes the whole
    corpus in ONE task; no-op on a multi-row-group layout). doc_id
    partitioning is reused by every downstream per-doc aggregate and
    window, and all consumers accumulate in exact integer/decimal
    types, so results are partition-order invariant (r11 audit).

    ``spread=False`` is for consumers that reference this lattice
    several times in ONE plan (self-joins over a derived distinct):
    Spark re-evaluates the subtree per reference with
    reference-specific column pruning, so no ReusedExchange unifies
    the spread shuffles and each reference would pay one (measured:
    contamination_matrix 1.2 s → 1.8 s with spread on)."""
    base = (
        load_spread(spark, sf_dir, "documents", "doc_id")
        if spread
        else load_table(spark, sf_dir, "documents")
    )
    return base.where(F.length(F.trim("text")) > 0).withColumn(
        "toks", whitespace_tokens("text")
    )


_SQL_PREP = (
    "WITH t AS (SELECT doc_id, lang, text, "
    "string_split_regex(trim(text), '\\s+') AS toks "
    "FROM documents WHERE length(trim(text)) > 0)"
)


def _quality_ratio_cols() -> dict:
    """text_quality's four per-document ratios as Column expressions
    over a _docs_with_tokens row (needs ``toks`` and ``text``) — THE
    single definition. quality_length_matrix and
    source_quality_profile band/average the same doubles
    text_quality scores with, so any reweighting or new ratio must
    land here or the pinned cross-operator identities
    (test_quality_length_matrix_matches_text_quality) break
    silently (r9 code review: this was three hand-synced copies)."""
    stop_quoted = ", ".join(f"'{s}'" for s in STOPWORDS)
    return {
        "stop_ratio": (
            F.expr(
                f"size(filter(toks, x -> x IN ({stop_quoted})))"
            ).cast("double")
            / F.size("toks")
        ),
        "punct_ratio": (
            (
                F.length("text")
                - F.length(F.regexp_replace("text", "[.,;:!?]", ""))
            ).cast("double")
            / F.length("text")
        ),
        "distinct_ratio": (
            F.size(F.array_distinct("toks")).cast("double")
            / F.size("toks")
        ),
        "len_norm": (
            F.least(F.size("toks"), F.lit(100)).cast("double")
            / F.lit(100.0)
        ),
    }


def _quality_score(stop_ratio, distinct_ratio, punct_ratio, len_norm):
    """The composite: a LEFT-ASSOCIATED weighted sum (both engines
    agree bit-for-bit on this association — reorder it and every
    quality oracle drifts)."""
    return (
        stop_ratio * 0.25
        + distinct_ratio * 0.25
        + (F.lit(1.0) - punct_ratio) * 0.25
        + len_norm * 0.25
    )


#: the same composite over DuckDB ratio column names — shared by the
#: three quality-family oracles so Spark/SQL can only drift together
_SQL_QUALITY_SCORE = (
    "((((stop_ratio * 0.25) + (distinct_ratio * 0.25))"
    " + ((1.0 - punct_ratio) * 0.25)) + (len_norm * 0.25))"
)

#: the DuckDB ratio definitions (SELECT-list fragment over a `t` row
#: with ``toks``/``text``) feeding _SQL_QUALITY_SCORE
_SQL_QUALITY_RATIOS = (
    "CAST(len(list_filter(toks, x -> x IN ({stops}))) AS DOUBLE)"
    " / len(toks) AS stop_ratio,\n"
    "  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '',"
    " 'g')) AS DOUBLE) / length(text) AS punct_ratio,\n"
    "  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)"
    " AS distinct_ratio,\n"
    "  CAST(least(len(toks), 100) AS DOUBLE) / 100.0 AS len_norm"
).format(stops=", ".join(f"'{s}'" for s in STOPWORDS))


# ---------------------------------------------------------------------------
# Token statistics
# ---------------------------------------------------------------------------

def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts: whitespace tokens, distinct tokens,
    BPE-ish pre-tokens (letter runs | digit runs | single symbol),
    and mean token length.

    Map-only; one pass over the text per row."""
    df = _docs_with_tokens(spark, sf_dir)
    return df.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars_len"),
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct_tokens"),
        # Pattern passed as a lit Column: F.expr would re-interpret
        # the \s escape inside the SQL string literal.
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(BPE_REGEX), F.lit(0))).alias(
            "n_bpe_tokens"
        ),
        (
            F.expr("aggregate(transform(toks, x -> char_length(x)), 0, (a, x) -> a + x)")
            .cast("double") / F.size("toks")
        ).alias("avg_token_len"),
    )


TEXT_TOKEN_STATS_SQL = f"""
{_SQL_PREP}
SELECT doc_id, lang,
       length(text) AS n_chars_len,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_distinct_tokens,
       len(regexp_extract_all(lower(text), '{BPE_REGEX}')) AS n_bpe_tokens,
       CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
         / len(toks) AS avg_token_len
FROM t
"""


# ---------------------------------------------------------------------------
# Language ID
# ---------------------------------------------------------------------------

def _score_expr(markers: tuple[str, ...]) -> str:
    quoted = ", ".join(f"'{m}'" for m in markers)
    return f"size(filter(toks, x -> x IN ({quoted})))"


def _sql_score(markers: tuple[str, ...]) -> str:
    quoted = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter(toks, x -> x IN ({quoted})))"


def _argmax_case(score_fmt: str) -> str:
    """CASE chain picking the max-scoring language, ties broken
    alphabetically — identical text works in Spark SQL and DuckDB."""
    langs = sorted(LANG_MARKERS)
    branches = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(
            f"{score_fmt.format(lang=lang)} >= {score_fmt.format(lang=other)}"
            for other in langs[i + 1 :]
        )
        branches.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(branches) + f" ELSE '{langs[-1]}' END"


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID: count marker hits per language,
    predict the argmax (alphabetical tie-break).

    A real deployment swaps LANG_MARKERS for per-language character
    n-gram frequency tables — the plan shape (map-only scoring +
    CASE argmax) is unchanged."""
    df = _docs_with_tokens(spark, sf_dir)
    for lang, markers in LANG_MARKERS.items():
        df = df.withColumn(f"score_{lang}", F.expr(_score_expr(markers)))
    predicted = _argmax_case("score_{lang}")
    return df.select(
        "doc_id",
        "lang",
        *[F.col(f"score_{lang}") for lang in sorted(LANG_MARKERS)],
        F.expr(predicted).alias("predicted_lang"),
        (F.expr(predicted) == F.col("lang")).alias("is_match"),
    )


TEXT_LANGID_SQL = f"""
{_SQL_PREP},
s AS (SELECT doc_id, lang,
  {", ".join(f"{_sql_score(m)} AS score_{lang}" for lang, m in sorted(LANG_MARKERS.items()))}
  FROM t)
SELECT doc_id, lang,
       {", ".join(f"score_{lang}" for lang in sorted(LANG_MARKERS))},
       {_argmax_case("score_{lang}")} AS predicted_lang,
       ({_argmax_case("score_{lang}")} = lang) AS is_match
FROM s
"""


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------

def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality score from length / punctuation /
    stopword / uniqueness ratios, with a keep/drop verdict — the
    standard pre-training corpus filter shape (C4/Gopher-style
    rules, simplified).

    Every ratio is a single division of identically-ordered
    operands, and the composite is a left-associated weighted sum,
    so the DuckDB twin is bit-identical."""
    ratios = _quality_ratio_cols()
    df = _docs_with_tokens(spark, sf_dir)
    df = df.select(
        "doc_id",
        "lang",
        F.size("toks").alias("n_tokens"),
        ratios["stop_ratio"].alias("stop_ratio"),
        ratios["punct_ratio"].alias("punct_ratio"),
        ratios["distinct_ratio"].alias("distinct_ratio"),
        ratios["len_norm"].alias("len_norm"),
    )
    score = _quality_score(
        F.col("stop_ratio"),
        F.col("distinct_ratio"),
        F.col("punct_ratio"),
        F.col("len_norm"),
    )
    return df.select(
        "doc_id",
        "lang",
        "n_tokens",
        "stop_ratio",
        "punct_ratio",
        "distinct_ratio",
        "len_norm",
        score.alias("quality_score"),
        F.when(score >= 0.5, F.lit("keep")).otherwise(F.lit("drop")).alias("verdict"),
    )


TEXT_QUALITY_SQL = f"""
{_SQL_PREP},
r AS (SELECT doc_id, lang,
  len(toks) AS n_tokens,
  {_SQL_QUALITY_RATIOS}
  FROM t)
SELECT doc_id, lang, n_tokens, stop_ratio, punct_ratio, distinct_ratio, len_norm,
       {_SQL_QUALITY_SCORE} AS quality_score,
       CASE WHEN {_SQL_QUALITY_SCORE} >= 0.5
            THEN 'keep' ELSE 'drop' END AS verdict
FROM r
"""


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: Redaction patterns, applied in order. Kept to constructs with
#: identical semantics in Java regex (Spark) and RE2 (DuckDB):
#: character classes, bounded/unbounded repetition — no
#: backreferences or lookaround. Patterns are passed through the
#: COLUMN API on the Spark side: embedding them in SQL literals
#: would let Spark's string parser eat the backslashes
#: (`'\.'` → `.`) and silently change the regex (measured — see
#: cross-engine parity notes).
REDACTIONS: tuple[tuple[str, str, str], ...] = (
    # Specific before generic: SSN must precede phone or the broad
    # digits-and-dashes phone pattern consumes SSNs first (caught by
    # tests/test_text_ops.py::test_redact_df_on_crafted_pii).
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^\s]+", "<URL>"),
    ("ssn", r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    ("phone", r"\+?[0-9][0-9()\- ]{7,}[0-9]", "<PHONE>"),
)


def redact_df(df: DataFrame, text_col: str, keep: list[str]) -> DataFrame:
    """Apply the REDACTIONS cascade to ``df[text_col]``; returns
    ``keep`` columns + per-category counts + ``redacted`` +
    ``was_redacted``. Reused by the contract query and unit-tested
    directly on crafted PII (the fixture corpus is word-salad, so
    the oracle match alone would only prove the no-op path)."""
    out = df.select(
        *keep,
        *[
            F.size(F.regexp_extract_all(text_col, F.lit(pat), F.lit(0))).alias(f"n_{name}")
            for name, pat, _ in REDACTIONS
        ],
        F.col(text_col).alias("redacted"),
    )
    for _, pat, token in REDACTIONS:
        out = out.withColumn("redacted", F.regexp_replace("redacted", pat, token))
    return out.withColumn(
        "was_redacted",
        sum(F.col(f"n_{name}") for name, _, _ in REDACTIONS) > F.lit(0),
    )


def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub — the compliance gate of a training-data pipeline:
    emails, URLs, phone-like numbers and SSN-shaped ids replaced
    with typed placeholders, with per-category hit counts so the
    scrub is auditable (which corpora leak what, at what rate).

    Map-only; patterns applied in declaration order (earlier
    redactions can mask later patterns — e.g. an email inside a URL
    — so order is part of the semantics, mirrored in the oracle).
    Counts are measured on the ORIGINAL text, redaction cascades on
    the running result."""
    df = load_spread(spark, sf_dir, "documents", "doc_id").where(F.length(F.trim("text")) > 0)
    return redact_df(df, "text", keep=["doc_id", "lang"])


TEXT_REDACT_SQL = f"""
WITH d AS (SELECT doc_id, lang, text FROM documents WHERE length(trim(text)) > 0)
SELECT doc_id, lang,
  {", ".join(f"len(regexp_extract_all(text, '{pat}')) AS n_{name}" for name, pat, _ in REDACTIONS)},
  {"".join("regexp_replace(" for _ in REDACTIONS)}text
    {"".join(f", '{pat}', '{tok}', 'g')" for _, pat, tok in REDACTIONS)} AS redacted,
  ({" + ".join(f"len(regexp_extract_all(text, '{pat}'))" for _, pat, _ in REDACTIONS)}) > 0 AS was_redacted
FROM d
"""


# ---------------------------------------------------------------------------
# Fingerprinting
# ---------------------------------------------------------------------------

def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three per-document fingerprints:

    - ``fp_md5``: 60-bit md5 of the normalized text (exact-dup key);
    - ``fp_roll``: polynomial rolling hash of the normalized text;
    - ``fp_winnow``: minimum polynomial hash over all 8-char windows
      (1-window winnowing, Schleimer et al. MOSS-style) — robust to
      local edits.

    Plan shape (the r1 verdict's one perf-weak item, rewritten):
    the normalized text and its codepoint array are **let-bound**
    with the single-element ``transform(array(x), v -> body)[0]``
    idiom, so normalization and char-split run ONCE per document —
    without the binding Catalyst's CollapseProject inlines the
    regexp into every one of the ~n window lambdas (the measured
    100-300× constant factor). Each window is then 8 multiply-adds
    on the bound array (no md5, no substring re-scan): O(8n) int
    ops per document total, still map-only/shuffle-free."""
    mod = ROLL_MOD
    w = FP_WINDOW
    cp = "transform(regexp_extract_all(nrm, '.', 0), ch -> cast(ascii(ch) AS bigint))"
    fp = (
        f"transform(array({NORM_SPARK_SQL}), nrm -> "
        f"transform(array({cp}), cp -> named_struct("
        f"'fp_md5', cast(conv(substring(md5(nrm), 1, 15), 16, 10) AS bigint), "
        f"'fp_roll', aggregate(cp, 0L, (a, c) -> (a * 31 + c) % {mod}), "
        f"'fp_winnow', array_min(transform(sequence(1, greatest(size(cp) - {w - 1}, 1)), "
        f"i -> aggregate(slice(cp, i, {w}), 0L, (a, c) -> (a * 31 + c) % {mod})))"
        f"))[0])[0]"
    )
    return (
        # conditional doc_id spread: the O(8n)-per-doc window hashing
        # is the map work guide §2.5's unsplittable-input fix exists
        # for (measured 1.72 s → 0.51 s at sf0.1; no-op at scale)
        load_spread(spark, sf_dir, "documents", "doc_id")
        .where(F.length(F.trim("text")) > 0)
        .select("doc_id", F.expr(fp).alias("fp"))
        .select("doc_id", "fp.fp_md5", "fp.fp_roll", "fp.fp_winnow")
    )


TEXT_FINGERPRINT_SQL = f"""
WITH d AS (SELECT doc_id, {NORM_DUCK_SQL} AS norm
           FROM documents WHERE length(trim(text)) > 0),
c AS (SELECT doc_id, norm,
        list_transform(regexp_extract_all(norm, '.'),
                       ch -> CAST(unicode(ch) AS BIGINT)) AS cp
      FROM d)
SELECT doc_id,
       {sql_md5_long60("norm")} AS fp_md5,
       list_reduce(list_concat([CAST(0 AS BIGINT)], cp),
                   (a, c) -> (a * 31 + c) % {ROLL_MOD}) AS fp_roll,
       list_min(list_transform(
         range(1, greatest(len(cp) - {FP_WINDOW - 1}, 1) + 1),
         i -> list_reduce(list_concat([CAST(0 AS BIGINT)],
                list_slice(cp, i, i + {FP_WINDOW - 1})),
              (a, c) -> (a * 31 + c) % {ROLL_MOD}))) AS fp_winnow
FROM c
"""


# ---------------------------------------------------------------------------
# Doc-term matrix / TF-IDF-style ranking + corpus n-gram vocabulary
# ---------------------------------------------------------------------------

#: Top terms kept per document.
DOC_TERMS_K = 5
#: Top corpus bigrams reported.
TOP_NGRAMS_K = 50

#: Non-distinct word bigrams from the let-bound token array — shared
#: by text_top_ngrams (corpus vocabulary) and text_repetition
#: (per-doc duplicate fractions), one source so the two can't drift.
#: Single-token docs yield zero bigrams in BOTH engines (greatest
#: guard is 0, unlike word_shingles' ≥1-shingle guard).
_BIGRAM_EXPR = (
    "transform(sequence(1, greatest(size(toks) - 1, 0)), "
    "i -> array_join(slice(toks, i, 2), ' '))"
)
_SQL_BIGRAM = (
    "list_transform(range(1, greatest(len(toks) - 1, 0) + 1), "
    "i -> array_to_string(list_slice(toks, i, i + 1), ' '))"
)


def text_doc_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-style doc-term matrix: per document, the DOC_TERMS_K
    most characteristic terms ranked by tf · (N/df) — term frequency
    damped by corpus-wide document frequency, the retrieval/keyword
    primitive behind search and near-topic clustering.

    The score is kept as one integer multiply and one divide of
    exact integers (tf · N / df), NOT ln(N/df): a transcendental in
    the score would let the two engines' libm disagree in the last
    ulp and flip a rank; the rational form is IEEE-exact and
    order-identical in any engine (monotone in the same ranking for
    fixed tf scaling).

    Plan: explode tokens (map-side 1→N) → (doc, term) tf partial-agg
    → df per term partial-agg → join tf⋈df on term → per-doc
    WindowGroupLimit top-k. All shuffles move pre-aggregated rows,
    never raw token rows. The tf⋈df join is deliberately un-hinted:
    a web-scale vocabulary (every typo and number is a term) is NOT
    broadcastable — AQE broadcasts it at fixture SFs and correctly
    sort-merges on term at corpus scale; only the single-row n_docs
    is an unconditional broadcast.
    """
    toks = _docs_with_tokens(spark, sf_dir)
    terms = toks.select(
        "doc_id", F.explode("toks").alias("term")
    )
    # localCheckpoint (r11, guide §3.3): the tf lattice feeds the df
    # aggregate AND the score join — uncheckpointed, tokenize +
    # explode + (doc, term) agg ran twice. n_docs stays on the raw
    # scan (column pruning drops the tokenize there).
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint()
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = toks.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double") * F.col("n_docs") / F.col("df"),
        )
    )
    return (
        scored.withColumn(
            "rank",
            F.expr(
                "row_number() OVER (PARTITION BY doc_id "
                "ORDER BY tfidf DESC, term ASC)"
            ),
        )
        .where(F.col("rank") <= DOC_TERMS_K)
        .select("doc_id", "rank", "term", "tf", "df", "tfidf")
    )


TEXT_DOC_TERMS_SQL = f"""
{_SQL_PREP}, terms AS (
  SELECT doc_id, unnest(toks) AS term FROM t
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM t
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(tf.tf AS DOUBLE) * n.n_docs / df.df AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
)
SELECT doc_id, rank, term, tf, df, tfidf FROM (
  SELECT doc_id, term, tf, df, tfidf,
         row_number() OVER (PARTITION BY doc_id
           ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored)
WHERE rank <= {DOC_TERMS_K}
"""


def text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram vocabulary: the TOP_NGRAMS_K most frequent word
    bigrams with occurrence and document counts — the corpus
    statistic tokenizer training (BPE merges start from pair
    frequencies) and contamination checks read first.

    Plan: bigrams via a slice-join over the let-bound token array
    (map-only 1→N), partial-agg count per bigram, then a global
    top-k that Catalyst runs as TakeOrderedAndProject — per-task
    heaps, no global sort.
    """
    toks = _docs_with_tokens(spark, sf_dir)
    pairs = toks.select(
        "doc_id", F.explode(F.expr(_BIGRAM_EXPR)).alias("bigram")
    )
    counted = pairs.groupBy("bigram").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return (
        counted.orderBy(
            F.col("n_occurrences").desc(), F.col("bigram").asc()
        )
        .limit(TOP_NGRAMS_K)
        .withColumn(
            "rank",
            F.expr("row_number() OVER (ORDER BY n_occurrences DESC, bigram ASC)"),
        )
    )


TEXT_TOP_NGRAMS_SQL = f"""
{_SQL_PREP}, grams AS (
  SELECT doc_id, unnest({_SQL_BIGRAM}) AS bigram
  FROM t
), counted AS (
  SELECT bigram, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
  FROM grams GROUP BY bigram
), top AS (
  SELECT * FROM counted ORDER BY n_occurrences DESC, bigram ASC LIMIT {TOP_NGRAMS_K}
)
SELECT bigram, n_occurrences, n_docs,
       row_number() OVER (ORDER BY n_occurrences DESC, bigram ASC) AS rank
FROM top
"""


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filters)
# ---------------------------------------------------------------------------

def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals, the Gopher/MassiveText-family
    quality filters (Rae et al. 2021 §A1.1) adapted to this fixture's
    newline-free text: duplicate-token fraction, most-frequent-bigram
    mass, and duplicate-bigram fraction. High values mark boilerplate
    and degenerate generator loops — the filter LLM corpus curation
    applies right after language ID.

    Docs with <2 tokens are excluded (a bigram signal is undefined
    there), identically in both engines.

    All three fractions are single IEEE divisions of exact integers
    (no float accumulation), so the oracle matches bit-for-bit.

    Plan: map-side explode of non-distinct bigrams (ints ride along,
    avoiding a doc_id re-join) → partial-agg count per (doc, bigram)
    → partial-agg per doc. Both shuffle keys are high-cardinality and
    unskewed; shuffle volume is one row per distinct bigram per doc —
    the wordcount shape, linear to 100 TB.
    """
    toks = _docs_with_tokens(spark, sf_dir).where(F.size("toks") >= 2)
    rows = toks.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        F.explode(F.expr(_BIGRAM_EXPR)).alias("bigram"),
    )
    per_bigram = rows.groupBy("doc_id", "bigram").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max("n_tokens").alias("n_tokens"),
        F.max("n_distinct").alias("n_distinct"),
    )
    return per_bigram.groupBy("doc_id").agg(
        F.max("n_tokens").alias("n_tokens"),
        (
            (F.max("n_tokens") - F.max("n_distinct")).cast("double")
            / F.max("n_tokens")
        ).alias("dup_token_frac"),
        F.sum("cnt").alias("n_bigrams"),
        (F.max("cnt").cast("double") / F.sum("cnt")).alias("top_bigram_frac"),
        (
            (F.sum("cnt") - F.count(F.lit(1))).cast("double") / F.sum("cnt")
        ).alias("dup_bigram_frac"),
    )


TEXT_REPETITION_SQL = f"""
{_SQL_PREP}, d AS (
  SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct, toks
  FROM t WHERE len(toks) >= 2
), bg AS (
  SELECT doc_id, n_tokens, n_distinct, unnest({_SQL_BIGRAM}) AS bigram
  FROM d
), pb AS (
  SELECT doc_id, bigram, COUNT(*) AS cnt,
         MAX(n_tokens) AS n_tokens, MAX(n_distinct) AS n_distinct
  FROM bg GROUP BY doc_id, bigram
)
SELECT doc_id,
       MAX(n_tokens) AS n_tokens,
       CAST(MAX(n_tokens) - MAX(n_distinct) AS DOUBLE) / MAX(n_tokens)
         AS dup_token_frac,
       CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT) AS top_bigram_frac,
       CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT)
         AS dup_bigram_frac
FROM pb GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Unigram-LM rarity scoring
# ---------------------------------------------------------------------------

def text_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality signal (the CCNet/perplexity-filter shape):
    score each document by how common its tokens are in the corpus —
    mean corpus frequency of the document's tokens, plus the rarest
    token's frequency. Low mean ⇒ rare-token-heavy (OCR garbage,
    code, boilerplate IDs); the standard cheap stand-in for LM
    perplexity when ranking documents for training-data curation.

    Deliberately integer-exact where the textbook form is
    ``Σ ln p(tok)``: a transcendental per token would let the two
    engines' libm disagree in the last ulp (same reasoning as
    text_doc_terms' rational tf·N/df score), so the score is the
    exact integer frequency mass divided ONCE in double — monotone
    in the same ranking as the smoothed log-prob for fixed doc
    length, and hash-identical across engines.

    Plan (the tf–df lattice of text_doc_terms, minus the window):
    explode tokens map-side → corpus frequency per term (partial agg
    before the term shuffle) → terms⋈cf join back — un-hinted, a
    web-scale vocabulary is NOT broadcastable; AQE broadcasts at
    fixture SFs, sort-merges on term at corpus scale — → per-doc
    aggregation. Every shuffle moves pre-aggregated or
    single-token-width rows.
    """
    # spread=False: terms feeds cf AND the join-back (2 references
    # re-paying the spread exchange; measured 0.53 s -> 0.82 s)
    toks = _docs_with_tokens(spark, sf_dir, spread=False)
    # localCheckpoint (r11, guide §3.3): the token-instance lattice
    # feeds the corpus-frequency agg AND the join-back —
    # uncheckpointed, tokenize + explode ran twice (the
    # ngram_novelty pattern).
    terms = toks.select(
        "doc_id", F.explode("toks").alias("term")
    ).localCheckpoint()
    cf = terms.groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
    return (
        terms.join(cf, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cf").alias("freq_mass"),
            F.min("cf").alias("rarest_cf"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "freq_mass",
            "rarest_cf",
            (F.col("freq_mass").cast("double") / F.col("n_tokens")).alias("mean_cf"),
        )
        .orderBy("doc_id")
    )


TEXT_TOKEN_RARITY_SQL = f"""
{_SQL_PREP}, terms AS (
  SELECT doc_id, unnest(toks) AS term FROM t
), cf AS (
  SELECT term, COUNT(*) AS cf FROM terms GROUP BY term
)
SELECT terms.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(cf.cf) AS BIGINT) AS freq_mass,
       MIN(cf.cf) AS rarest_cf,
       CAST(SUM(cf.cf) AS DOUBLE) / COUNT(*) AS mean_cf
FROM terms JOIN cf ON terms.term = cf.term
GROUP BY terms.doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# BPE pair counting (tokenizer-training primitive)
# ---------------------------------------------------------------------------

#: Most frequent adjacent pairs reported (= the first TOP_PAIRS
#: merge candidates of a BPE training run).
TOP_PAIRS = 30


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE pair counting — the inner statistic of byte-
    pair-encoding tokenizer training (Sennrich et al. 2016): over
    the pre-tokenized corpus, the corpus-wide frequency of every
    ADJACENT symbol pair, reported as the TOP_PAIRS ranked merge
    candidates. A full trainer loops this: count pairs -> merge the
    argmax -> recount; one iteration is the distributed primitive
    (the loop re-issues the same plan against the merged vocab).

    Plan (two wordcount shapes, the scalable BPE formulation):
    explode pre-tokens -> (word, count) partial agg FIRST — at
    corpus scale the word vocabulary is orders of magnitude smaller
    than the token stream, so pair generation runs once per DISTINCT
    word weighted by its count, not once per occurrence (exactly how
    HuggingFace tokenizers trains) -> explode the word's adjacent
    char pairs -> weighted pair agg -> distributed top-k
    (TakeOrderedAndProject, no single-partition global window over
    the vocabulary; the rank window runs on TOP_PAIRS rows only).

    Determinism: counts are integers; ties rank (n DESC, pair ASC) —
    a total order both engines share.
    """
    # spread reverted (r11 A/B): the exchange cost the fixture +0.16 s vs no-spread at sf0.1; map work here is too light to earn it
    docs = load_table(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    words = docs.select(
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{BPE_REGEX}', 0)")
        ).alias("w")
    ).where(F.length("w") >= 2)
    wc = words.groupBy("w").agg(F.count("*").alias("wn"))
    pairs = wc.select(
        "wn",
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1), "
                "i -> concat(substring(w, i, 1), ' ', substring(w, i + 1, 1)))"
            )
        ).alias("pair"),
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.sum("wn").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(TOP_PAIRS)
    )
    return top.select(
        F.expr("row_number() OVER (ORDER BY n DESC, pair ASC)").alias("rank"),
        "pair",
        "n",
    )


BPE_PAIR_COUNTS_SQL = f"""
WITH w AS (
  SELECT unnest(regexp_extract_all(lower(text), '{BPE_REGEX}')) AS w
  FROM documents WHERE length(trim(text)) > 0
), wc AS (
  SELECT w, count(*) AS wn FROM w WHERE length(w) >= 2 GROUP BY w
), p AS (
  SELECT wn,
         unnest(list_transform(range(1, length(w)),
           i -> substr(w, CAST(i AS INTEGER), 1) || ' ' ||
                substr(w, CAST(i + 1 AS INTEGER), 1))) AS pair
  FROM wc
), a AS (
  SELECT pair, CAST(sum(wn) AS BIGINT) AS n FROM p GROUP BY pair
), top AS (
  SELECT pair, n FROM a ORDER BY n DESC, pair ASC LIMIT {TOP_PAIRS}
)
SELECT row_number() OVER (ORDER BY n DESC, pair ASC) AS rank, pair, n FROM top
"""


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the language-ID gate: per (labeled lang,
    predicted lang) cell, count and per-row-label recall as an exact
    rational pair — the calibration table any classifier-driven
    curation filter publishes before it is allowed to drop documents
    (the diagnostics.py audit pattern applied to text_langid).

    Plan: the map-only langid scoring feeds ONE (lang, predicted)
    partial agg plus a per-lang window for the row totals — shuffle
    is |langs|² cells, never documents. Recall is emitted as
    (n_cell, n_label) BIGINTs, not a float division, so the result
    is trivially exact cross-engine and the consumer chooses its
    rounding.
    """
    pred = text_langid(spark, sf_dir).select("lang", "predicted_lang")
    cells = pred.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_cell")
    )
    return (
        cells.withColumn(
            "n_label",
            F.expr("sum(n_cell) OVER (PARTITION BY lang)"),
        )
        .select("lang", "predicted_lang", "n_cell", "n_label")
        .orderBy("lang", "predicted_lang")
    )


LANGID_CONFUSION_SQL = f"""
WITH p AS ({TEXT_LANGID_SQL}),
cells AS (
  SELECT lang, predicted_lang, COUNT(*) AS n_cell
  FROM p GROUP BY lang, predicted_lang
)
SELECT lang, predicted_lang, n_cell,
       CAST(sum(n_cell) OVER (PARTITION BY lang) AS BIGINT) AS n_label
FROM cells
ORDER BY lang, predicted_lang
"""


# ---------------------------------------------------------------------------
# Term co-occurrence PMI (round 5)
# ---------------------------------------------------------------------------

#: Distinct-term-per-doc cap — the basket_pairs quadratic-blowup
#: guard applied to documents (pairs grow as terms², so one giant
#: doc must not generate the corpus's worst-case pair volume).
COOCCUR_MAX_TERMS = 200

#: Minimum docs a PAIR must co-occur in to be scored (rare-pair
#: noise floor — PMI of a 1-doc pair is pure sampling noise).
COOCCUR_MIN_PAIR_DF = 3

#: Fixed-point PMI scale.
PMI_SCALE = 10_000

#: Pairs reported.
COOCCUR_TOP_N = 40


def cooccur_pmi(
    spark: SparkSession, sf_dir: str, *, top_n: int = COOCCUR_TOP_N
) -> DataFrame:
    """Term-pair pointwise-mutual-information mining: the
    COOCCUR_TOP_N term pairs whose document co-occurrence most
    exceeds independence — the phrase/collocation detector feeding
    tokenizer vocab curation and topic audits (bpe_pair_counts ranks
    ADJACENT pairs; this ranks same-document association at any
    distance, a different signal).

    PMI's ``log P(xy)/(P(x)P(y))`` is monotone in its rational core,
    so the score is ``(c_xy · N · S) DIV (c_x · c_y)`` — staged
    integer arithmetic, no transcendentals (the oracle-determinism
    contract), where all counts are DISTINCT-document counts from
    one (doc, term) lattice. Magnitude: c_xy ≤ c_x ≤ N keeps
    c_xy·N·S ≤ N²·S — under 2^63 to N ≈ 9.6e8 docs; beyond that
    the staged DIV form from basket_rules applies (documented, not
    needed at fixture scale).

    Plan shape is basket_pairs over documents: distinct (doc, term),
    per-doc cap, one self-join on doc_id (one partitioning reused),
    pair agg, bounded top-N; term supports join against the ≤2·TOP_N
    result is broadcast.
    """
    # spread=False: kept feeds n_docs/supp/both join sides (4
    # references re-paying the spread exchange; measured 1.08×)
    toks = _docs_with_tokens(spark, sf_dir, spread=False)
    doc_terms = toks.select(
        "doc_id", F.explode("toks").alias("term")
    ).distinct()
    # localCheckpoint (r11, guide §3.3): those same 4 references each
    # re-ran the tokenize + explode + distinct + per-doc-cap window
    # subtree (5 parquet scans in the executed plan);
    # the ≤|docs|·cap lattice now materializes once and keeps its
    # doc_id partitioning for the self-join. eager=False (r12
    # sweep): lazy defers the final stage + block write into the
    # consumer job — matched A/B 1.24 (eager) vs 1.03 s (lazy);
    # integer/string values, order-safe.
    kept = doc_terms.withColumn(
        "n_terms", F.expr("count(*) OVER (PARTITION BY doc_id)")
    ).where(F.col("n_terms") <= COOCCUR_MAX_TERMS).select(
        "doc_id", "term"
    ).localCheckpoint(eager=False)
    n_docs = kept.agg(F.countDistinct("doc_id").alias("n_docs"))
    supp = kept.groupBy("term").agg(F.count(F.lit(1)).alias("term_df"))
    a = kept.select(F.col("doc_id").alias("d"), F.col("term").alias("term_a"))
    b = kept.select(F.col("doc_id").alias("d2"), F.col("term").alias("term_b"))
    pairs = (
        a.join(b, (F.col("d") == F.col("d2")) & (F.col("term_a") < F.col("term_b")))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("pair_df"))
        .where(F.col("pair_df") >= COOCCUR_MIN_PAIR_DF)
    )
    return (
        pairs.join(
            F.broadcast(supp).withColumnRenamed("term", "term_a")
            .withColumnRenamed("term_df", "df_a"),
            "term_a",
        )
        .join(
            F.broadcast(supp).withColumnRenamed("term", "term_b")
            .withColumnRenamed("term_df", "df_b"),
            "term_b",
        )
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "pmi_fp",
            F.expr(f"(pair_df * n_docs * {PMI_SCALE}) DIV (df_a * df_b)"),
        )
        .select("term_a", "term_b", "pair_df", "df_a", "df_b", "pmi_fp")
        .orderBy(F.desc("pmi_fp"), "term_a", "term_b")
        .limit(top_n)
    )


COOCCUR_PMI_SQL = f"""
{_SQL_PREP}, doc_terms AS (
  SELECT DISTINCT doc_id, unnest(toks) AS term FROM t
), sized AS (
  SELECT doc_id, term, COUNT(*) OVER (PARTITION BY doc_id) AS n_terms
  FROM doc_terms
), kept AS (
  SELECT doc_id, term FROM sized WHERE n_terms <= {COOCCUR_MAX_TERMS}
), nd AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM kept
), supp AS (
  SELECT term, COUNT(*) AS term_df FROM kept GROUP BY 1
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS pair_df
  FROM kept a
  JOIN kept b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2
  HAVING COUNT(*) >= {COOCCUR_MIN_PAIR_DF}
)
SELECT p.term_a, p.term_b, CAST(p.pair_df AS BIGINT) AS pair_df,
       CAST(sa.term_df AS BIGINT) AS df_a,
       CAST(sb.term_df AS BIGINT) AS df_b,
       CAST((p.pair_df * nd.n_docs * {PMI_SCALE}) // (sa.term_df * sb.term_df)
            AS BIGINT) AS pmi_fp
FROM pairs p
JOIN supp sa ON sa.term = p.term_a
JOIN supp sb ON sb.term = p.term_b
CROSS JOIN nd
ORDER BY pmi_fp DESC, term_a, term_b
LIMIT {COOCCUR_TOP_N}
"""


# ---------------------------------------------------------------------------
# N-gram novelty / memorization audit (round 5)
# ---------------------------------------------------------------------------

#: Shingle width for the novelty audit (3-grams: long enough to be
#: phrase-specific, short enough that every doc has many).
NOVELTY_N = 3


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction (basis points) of a doc's
    distinct word 3-grams that appear NOWHERE else in the corpus —
    the memorization/duplication audit at phrase granularity. Low
    novelty with no near-dup pair means diffuse boilerplate
    (dedup_near can't see it; chunk_boilerplate and this query can);
    training pipelines drop or downweight the low tail.

    One distinct (doc, shingle) lattice feeds both sides: corpus
    document frequency per shingle, then a per-doc aggregate of
    unique-gram hits. Ratio is integer DIV — engine-exact. The
    shingle explode is map-side (word_shingles is a per-row
    transform); the two exchanges carry (shingle) and (doc_id)
    grouped rows, never raw text.
    """
    docs = _docs_with_tokens(spark, sf_dir)
    # localCheckpoint (r11, guide §3.3): the gram lattice feeds the
    # corpus-DF aggregate AND the per-doc join probe —
    # uncheckpointed, tokenize + shingle-explode ran twice (3 parquet
    # scans in the executed plan).
    lattice = docs.select(
        "doc_id",
        F.explode(word_shingles("toks", NOVELTY_N)).alias("shingle"),
    ).localCheckpoint()
    df = lattice.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        lattice.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("df") == 1).cast("bigint")).alias("n_unique"),
        )
        .withColumn("novelty_bp", F.expr("(n_unique * 10000) DIV n_grams"))
        .orderBy("doc_id")
    )


NGRAM_NOVELTY_SQL = f"""
{_SQL_PREP}, d AS (
  SELECT doc_id, {sql_word_shingles("toks", NOVELTY_N)} AS shingles FROM t
), lattice AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM d
), dfreq AS (
  SELECT shingle, COUNT(*) AS df FROM lattice GROUP BY 1
), per_doc AS (
  SELECT l.doc_id,
         COUNT(*) AS n_grams,
         CAST(SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
  FROM lattice l JOIN dfreq f USING (shingle)
  GROUP BY 1
)
SELECT doc_id, n_grams, n_unique,
       CAST((n_unique * 10000) // n_grams AS BIGINT) AS novelty_bp
FROM per_doc
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Source-level token diversity (round 5 cont.)
# ---------------------------------------------------------------------------


def source_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary diversity for corpus mixing: token
    volume, vocabulary size, the dominant term, and the Gini-Simpson
    index 1 - Σp² in basis points — the log-free diversity measure
    (entropy's rational twin, oracle-determinism rule: no
    transcendentals) that flags template-generated or boilerplate-
    heavy sources before they enter a training mix.

    Σtf² and T² are exact DECIMAL(38,0) products (BIGINT would
    overflow once a stopword's tf passes ~3e9 at corpus scale); the
    single ratio converts both to DOUBLE once — correctly-rounded
    identically in both engines — then floors to integer basis
    points.

    Plan: the (source, term) wordcount lattice is the only big
    exchange; the per-source rollup and the dominant-term window run
    on |sources × vocab| aggregated rows.
    """
    terms = (
        # spread reverted (r11 A/B): the exchange cost the fixture +0.43 s vs no-spread at sf0.1; map work here is too light to earn it
        _docs_with_tokens(spark, sf_dir, spread=False)
        .select("source", F.explode("toks").alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        # localCheckpoint (r11, guide §3.3): the (source, term)
        # wordcount lattice feeds the rollup AND the dominant-term
        # window — uncheckpointed, tokenize + explode + agg ran twice.
        .localCheckpoint()
    )
    per_source = terms.groupBy("source").agg(
        F.sum("tf").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(
            F.expr("CAST(tf AS DECIMAL(38,0)) * CAST(tf AS DECIMAL(38,0))")
        ).cast("decimal(38,0)").alias("sq_mass"),
    )
    top = (
        terms.withColumn(
            "rk",
            F.expr(
                "row_number() OVER (PARTITION BY source "
                "ORDER BY tf DESC, term ASC)"
            ),
        )
        .where("rk = 1")
        .select("source", F.col("term").alias("top_term"), F.col("tf").alias("top_tf"))
    )
    return (
        per_source.join(top, "source")
        .select(
            "source",
            "n_tokens",
            "n_terms",
            "top_term",
            "top_tf",
            F.expr(
                "CAST(10000 - floor(CAST(sq_mass AS DOUBLE) * "
                "CAST(10000 AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * "
                "CAST(n_tokens AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
            ).alias("simpson_bp"),
        )
        .orderBy("source")
    )


SOURCE_TOKEN_DIVERSITY_SQL = f"""
{_SQL_PREP.replace("SELECT doc_id, lang, text,", "SELECT doc_id, source, text,")},
terms AS (
  SELECT source, unnest(toks) AS term FROM t
), tf AS (
  SELECT source, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2
), per_source AS (
  SELECT source,
         CAST(SUM(tf) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_terms,
         CAST(SUM(CAST(tf AS DECIMAL(38,0)) * CAST(tf AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS sq_mass
  FROM tf GROUP BY 1
), top AS (
  SELECT source, term AS top_term, CAST(tf AS BIGINT) AS top_tf
  FROM (SELECT source, term, tf,
               row_number() OVER (PARTITION BY source
                                  ORDER BY tf DESC, term ASC) AS rk
        FROM tf)
  WHERE rk = 1
)
SELECT p.source, n_tokens, n_terms, top_term, top_tf,
       CAST(10000 - floor(CAST(sq_mass AS DOUBLE) * CAST(10000 AS DOUBLE)
            / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))
            + CAST(0.5 AS DOUBLE)) AS BIGINT) AS simpson_bp
FROM per_source p JOIN top USING (source)
ORDER BY p.source
"""


# ---------------------------------------------------------------------------
# Vocabulary growth curve (round 6)
# ---------------------------------------------------------------------------

#: Documents per growth bucket (the curve's x-axis granularity).
VOCAB_BUCKET_DOCS = 50


def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law audit: vocabulary size as the corpus grows, in
    ``VOCAB_BUCKET_DOCS``-document buckets ordered by doc_id — per
    bucket the token volume, the NEW terms first seen there, and the
    cumulative vocabulary. A saturating curve says more data adds
    tokens but no new vocabulary (dedup/diversity problem); a
    still-rising curve says the corpus keeps contributing.

    Plan: one (term → min bucket) agg + one per-bucket count + one
    per-bucket token agg, then a running sum over |buckets| rows
    (SinglePartition window on a tiny relation). No per-term state
    beyond the agg lattice; scale-safe at any corpus size.
    """
    # spread reverted (r11 A/B): the exchange cost the fixture +0.45 s vs no-spread at sf0.1; map work here is too light to earn it
    toks = _docs_with_tokens(spark, sf_dir, spread=False).select(
        F.expr(f"doc_id DIV {VOCAB_BUCKET_DOCS}").alias("bucket"),
        F.explode("toks").alias("term"),
    ).localCheckpoint()
    # localCheckpoint (r11, guide §3.3): the token lattice feeds the
    # first-seen agg AND the volume agg — uncheckpointed, tokenize +
    # explode ran twice.
    first_seen = (
        toks.groupBy("term")
        .agg(F.min("bucket").alias("first_bucket"))
        .groupBy("first_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("new_terms"))
        .withColumnRenamed("first_bucket", "bucket")
    )
    volume = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    return (
        volume.join(first_seen, on="bucket", how="left")
        .withColumn(
            "new_terms", F.coalesce("new_terms", F.lit(0)).cast("long")
        )
        .withColumn(
            "cum_vocab",
            F.expr(
                "CAST(sum(new_terms) OVER (ORDER BY bucket "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
            ),
        )
        .orderBy("bucket")
    )


VOCAB_GROWTH_CURVE_SQL = f"""
{_SQL_PREP}, toks AS (
  SELECT doc_id // {VOCAB_BUCKET_DOCS} AS bucket, unnest(toks) AS term FROM t
), first_seen AS (
  SELECT first_bucket AS bucket, CAST(COUNT(*) AS BIGINT) AS new_terms
  FROM (SELECT term, MIN(bucket) AS first_bucket FROM toks GROUP BY term)
  GROUP BY first_bucket
), volume AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks GROUP BY bucket
)
SELECT v.bucket, v.n_tokens,
       CAST(COALESCE(f.new_terms, 0) AS BIGINT) AS new_terms,
       CAST(SUM(COALESCE(f.new_terms, 0)) OVER (ORDER BY v.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_vocab
FROM volume v LEFT JOIN first_seen f ON v.bucket = f.bucket
ORDER BY v.bucket
"""


# ---------------------------------------------------------------------------
# Lexical concentration (Gini) per document, profiled per language
# ---------------------------------------------------------------------------

def text_lexical_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical concentration via the Gini/Simpson index
    1 − Σ p(tok)², rolled up per language — the entropy-free twin of
    token entropy (memory: oracle-determinism-rules bans ln in
    checked plans; 1−Σp² ranks repetitive docs the same way). Low
    gini ⇒ few tokens dominate (boilerplate, keyword stuffing, OCR
    loops); the curation filter reads it next to text_repetition's
    longest-run signal, which catches ADJACENT repetition only —
    this catches global concentration regardless of position.

    Integer-exact: per doc, gini_bp = (T² − Σc²)·10000 DIV T² over
    BIGINT token counts; the language rollup reports min/max and the
    BIGINT sum + integer-DIV mean of those per-doc basis points.
    No float exists anywhere in the plan.

    Plan: explode → (doc, tok) partial-agg count → per-doc agg
    (both shuffles hash on doc-prefixed keys and move pre-combined
    single-width rows) → |langs|-row final agg. The explode fan-out
    is the 100 TB cost and is map-side; everything after the first
    combine is sublinear.
    """
    toks = _docs_with_tokens(spark, sf_dir)
    counts = (
        toks.select("doc_id", "lang", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = counts.groupBy("doc_id", "lang").agg(
        F.sum("c").alias("t_toks"),
        F.sum(F.expr("c * c")).alias("sum_c2"),
    ).withColumn(
        "gini_bp",
        F.expr("((t_toks * t_toks - sum_c2) * 10000) DIV (t_toks * t_toks)"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("gini_bp").alias("min_gini_bp"),
            F.max("gini_bp").alias("max_gini_bp"),
            F.sum("gini_bp").alias("sum_gini_bp"),
        )
        .withColumn("mean_gini_bp", F.expr("sum_gini_bp DIV n_docs"))
        .orderBy("lang")
    )


TEXT_LEXICAL_GINI_SQL = f"""
{_SQL_PREP}, counts AS (
  SELECT doc_id, lang, unnest(toks) AS tok FROM t
), cc AS (
  SELECT doc_id, lang, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM counts GROUP BY doc_id, lang, tok
), per_doc AS (
  SELECT doc_id, lang,
         CAST(SUM(c) AS BIGINT) AS t_toks,
         CAST(SUM(c * c) AS BIGINT) AS sum_c2
  FROM cc GROUP BY doc_id, lang
), scored AS (
  SELECT doc_id, lang,
         ((t_toks * t_toks - sum_c2) * 10000) // (t_toks * t_toks)
           AS gini_bp
  FROM per_doc
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(gini_bp) AS min_gini_bp,
       MAX(gini_bp) AS max_gini_bp,
       CAST(SUM(gini_bp) AS BIGINT) AS sum_gini_bp,
       CAST(SUM(gini_bp) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
         AS mean_gini_bp
FROM scored
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Sentence statistics per language
# ---------------------------------------------------------------------------

def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level shape profile per language: sentences per doc
    and characters per sentence — the readability-adjacent curation
    signal the token stats can't see (wall-of-text docs with no
    sentence breaks, and chopped-up listicles, sit at the two ends
    of sents_per_doc; both are curation flags).

    Sentences are maximal runs split on ``[.!?]+``, trimmed, empties
    dropped — deliberately the simple regex both engines' RE
    libraries agree on (the chunking module's boundary rules are
    for chunk payloads; this is corpus profiling). All outputs are
    integer counts and integer-DIV ratios at e2 scale.

    Plan: explode is map-side over the documents scan; ONE partial
    agg to |docs| rows rides the doc-prefixed key, then the |langs|
    final agg. Same two-exchange funnel as text_lexical_gini.
    """
    docs = load_spread(spark, sf_dir, "documents", "doc_id").where(
        F.length(F.trim("text")) > 0
    )
    sents = docs.select(
        "doc_id", "lang",
        F.explode(F.expr("split(text, '[.!?]+')")).alias("seg"),
    ).select(
        "doc_id", "lang", F.expr("trim(seg)").alias("seg")
    ).where("seg <> ''")
    per_doc = sents.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_sents"),
        F.sum(F.expr("CAST(length(seg) AS BIGINT)")).alias("chars"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_sents").alias("n_sentences"),
            F.sum("chars").alias("sum_chars"),
        )
        .withColumn(
            "sents_per_doc_e2", F.expr("(n_sentences * 100) DIV n_docs")
        )
        .withColumn(
            "chars_per_sent_e2", F.expr("(sum_chars * 100) DIV n_sentences")
        )
        .orderBy("lang")
    )


TEXT_SENTENCE_STATS_SQL = """
WITH sents AS (
  SELECT doc_id, lang, trim(seg) AS seg
  FROM (
    SELECT doc_id, lang,
           unnest(string_split_regex(text, '[.!?]+')) AS seg
    FROM documents WHERE length(trim(text)) > 0
  )
), kept AS (
  SELECT doc_id, lang, seg FROM sents WHERE seg <> ''
), per_doc AS (
  SELECT doc_id, lang,
         CAST(COUNT(*) AS BIGINT) AS n_sents,
         CAST(SUM(CAST(length(seg) AS BIGINT)) AS BIGINT) AS chars
  FROM kept GROUP BY doc_id, lang
), lang_agg AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_sents) AS BIGINT) AS n_sentences,
         CAST(SUM(chars) AS BIGINT) AS sum_chars
  FROM per_doc GROUP BY lang
)
SELECT lang, n_docs, n_sentences, sum_chars,
       (n_sentences * 100) // n_docs AS sents_per_doc_e2,
       (sum_chars * 100) // n_sentences AS chars_per_sent_e2
FROM lang_agg
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Length vs lexical-concentration correlation per language
# ---------------------------------------------------------------------------

def doc_length_gini_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Pearson correlation between document length
    (tokens) and lexical Gini — "do longer documents stay lexically
    diverse, or degrade into repetition". Negative correlation is
    the classic web-crawl pathology (long pages = boilerplate/spam
    loops) and tells the curator to length-stratify the quality
    thresholds rather than apply one global cutoff.

    The per-doc (t_toks, gini_bp) lattice is text_lexical_gini's;
    both variables are integers, the moment sums are BIGINT, and
    the one float step is the shared pearson_e6 template
    (functions/stats.py — bit-stable cross-engine).

    Plan: same explode→(doc,tok)→per-doc funnel as the gini report
    plus one |langs| moment agg. Nothing fact-proportional after
    the first combine.
    """
    toks = _docs_with_tokens(spark, sf_dir)
    counts = (
        toks.select("doc_id", "lang", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = counts.groupBy("doc_id", "lang").agg(
        F.sum("c").alias("x"),
        F.sum(F.expr("c * c")).alias("sum_c2"),
    ).withColumn(
        "y", F.expr("((x * x - sum_c2) * 10000) DIV (x * x)")
    )
    mom = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
    )
    return (
        mom.where(
            "n > 1 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"
        )
        .withColumn("corr_e6", F.expr(pearson_e6()))
        .select("lang", "n", "sx", "sy", "corr_e6")
        .orderBy("lang")
    )


DOC_LENGTH_GINI_CORR_SQL = f"""
{_SQL_PREP}, counts AS (
  SELECT doc_id, lang, unnest(toks) AS tok FROM t
), cc AS (
  SELECT doc_id, lang, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM counts GROUP BY doc_id, lang, tok
), per_doc AS (
  SELECT doc_id, lang,
         CAST(SUM(c) AS BIGINT) AS x,
         ((CAST(SUM(c) AS BIGINT) * CAST(SUM(c) AS BIGINT)
           - CAST(SUM(c * c) AS BIGINT)) * 10000)
           // (CAST(SUM(c) AS BIGINT) * CAST(SUM(c) AS BIGINT)) AS y
  FROM cc GROUP BY doc_id, lang
), mom AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM per_doc GROUP BY lang
)
SELECT lang, n, sx, sy, {pearson_e6()} AS corr_e6
FROM mom
WHERE n > 1 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Round 7: hapax ratio (vocabulary-tail health per language)
# ---------------------------------------------------------------------------

def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax/dis legomena profile per language: the share of each
    language's vocabulary that occurs exactly once (hapax) or twice
    (dis) across its corpus slice. The standard vocabulary-tail
    screen for training data: a hapax share far above the natural
    ~40-60 % band flags OCR noise/mojibake minting junk types; far
    below flags template/boilerplate corpora that starve the
    tokenizer's tail. Reference users run this via the raw-SQL
    passthrough (app/main.py:479); first-class here.

    Integer-exact: counts and basis-point shares only (c==1 / c==2
    flags summed as BIGINTs; one integer DIV per output row).

    Plan: explode → (lang, tok) partial-agg count (map-side combine
    absorbs the fan-out) → |langs|-row final agg. Two exchanges,
    both over pre-combined single-width rows — the 100 TB cost is
    the map-side explode, everything after is |vocab|-bounded.
    """
    # spread reverted (r11 A/B): the exchange cost the fixture +0.33 s vs no-spread at sf0.1; map work here is too light to earn it
    toks = _docs_with_tokens(spark, sf_dir, spread=False)
    per_term = (
        toks.select("lang", F.explode("toks").alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per_term.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("vocab"),
            F.sum("c").alias("tokens"),
            F.sum(F.expr("CASE WHEN c = 1 THEN 1 ELSE 0 END")).alias("hapax"),
            F.sum(F.expr("CASE WHEN c = 2 THEN 1 ELSE 0 END")).alias("dis"),
        )
        .withColumn("hapax_bp", F.expr("(hapax * 10000) DIV vocab"))
        .withColumn("dis_bp", F.expr("(dis * 10000) DIV vocab"))
        .select("lang", "vocab", "tokens", "hapax", "dis", "hapax_bp", "dis_bp")
        .orderBy("lang")
    )


TEXT_HAPAX_RATIO_SQL = f"""
{_SQL_PREP}, per_term AS (
  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT lang, unnest(toks) AS tok FROM t)
  GROUP BY lang, tok
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(SUM(c) AS BIGINT) AS tokens,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
       (CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) * 10000)
         // CAST(COUNT(*) AS BIGINT) AS hapax_bp,
       (CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) * 10000)
         // CAST(COUNT(*) AS BIGINT) AS dis_bp
FROM per_term
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Round 7: Zipf rank-frequency check (transcendental-free)
# ---------------------------------------------------------------------------

#: Top-N ranks reported by the Zipf screen (driver-bounded).
ZIPF_TOP = 30


def text_zipf_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-frequency head of the corpus with the Zipf-law constancy
    proxy rank·count: under Zipf, c(r) ≈ C/r, so r·c(r) is roughly
    flat — a head whose r·c column climbs steeply flags duplicated
    boilerplate (one term family dominating), one that collapses
    flags a truncated/filtered vocabulary. The log-log slope fit
    every NLP textbook uses needs ln() (banned from checked plans —
    memory: oracle-determinism-rules); r·c carries the same signal
    as raw integers.

    Integer-exact: counts, ranks, products, and one DIV per row for
    the per-mille share (corpus total from a 1-row aggregate
    broadcast back).

    Plan: explode → token partial agg (map-side combined); the head
    is selected by orderBy+limit — TakeOrderedAndProject keeps
    ZIPF_TOP rows per task and never globally sorts |vocab| — and
    only THEN ranked by a window over the ≤ZIPF_TOP-row relation
    (a global window over |vocab| would funnel the whole vocabulary
    through one partition at web scale). The 1-row total joins by
    broadcast. Head size is ZIPF_TOP — driver-bounded output.
    """
    # spread reverted (r11 A/B): the exchange cost the fixture +0.15 s vs no-spread at sf0.1; map work here is too light to earn it
    toks = _docs_with_tokens(spark, sf_dir, spread=False)
    counts = (
        toks.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = counts.agg(F.sum("c").alias("total"))
    from pyspark.sql import Window

    head = counts.orderBy(F.desc("c"), F.asc("tok")).limit(ZIPF_TOP)
    ranked = head.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("c"), F.asc("tok"))),
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn("rank_x_count", F.expr("rank * c"))
        .withColumn("share_pm", F.expr("(c * 1000) DIV total"))
        .select("rank", "tok", "c", "rank_x_count", "share_pm")
        .orderBy("rank")
    )


TEXT_ZIPF_CHECK_SQL = f"""
{_SQL_PREP}, counts AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(toks) AS tok FROM t)
  GROUP BY tok
), total AS (
  SELECT CAST(SUM(c) AS BIGINT) AS total FROM counts
), ranked AS (
  SELECT tok, c,
         CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC) AS BIGINT)
           AS rank
  FROM counts
)
SELECT rank, tok, c,
       rank * c AS rank_x_count,
       (c * 1000) // total AS share_pm
FROM ranked, total
WHERE rank <= {ZIPF_TOP}
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# Round 7: type-token ratio by length band (Heaps-law screen)
# ---------------------------------------------------------------------------

#: Upper token-count edges of the TTR length bands (last band open).
TTR_BANDS = (16, 32, 64, 128)


def text_ttr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio by document-length band — the Heaps-law
    sanity curve: TTR must FALL as documents get longer (vocabulary
    grows sublinearly in tokens). A band where it doesn't fall
    flags concatenated-unrelated-snippet docs (crawl glue); a band
    far below its neighbors flags within-doc duplication that
    per-doc dedup can't see. Complements text_lexical_gini (global
    concentration) with the length-conditioned view.

    Integer-exact: per-doc token/distinct counts are exact array
    ops; band TTR is one pooled integer DIV (Σdistinct·10⁴ ÷
    Σtokens — pooled, not mean-of-ratios, so short docs don't
    dominate the band).

    Plan: MAP-ONLY per-doc counts (size/array_distinct — no
    explode, no per-token shuffle) + ONE |bands|-row aggregate.
    Single exchange; the cheapest lattice in the text family.
    """
    b1, b2, b3, b4 = TTR_BANDS
    band_expr = (
        f"CASE WHEN n_toks <= {b1} THEN 'a_le{b1}' "
        f"WHEN n_toks <= {b2} THEN 'b_le{b2}' "
        f"WHEN n_toks <= {b3} THEN 'c_le{b3}' "
        f"WHEN n_toks <= {b4} THEN 'd_le{b4}' "
        f"ELSE 'e_gt{b4}' END"
    )
    per_doc = _docs_with_tokens(spark, sf_dir).select(
        F.size("toks").alias("n_toks"),
        F.size(F.array_distinct("toks")).alias("n_types"),
    )
    return (
        per_doc.withColumn("band", F.expr(band_expr))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_toks").cast("bigint")).alias("tokens"),
            F.sum(F.col("n_types").cast("bigint")).alias("types"),
        )
        .withColumn("ttr_bp", F.expr("(types * 10000) DIV tokens"))
        .select("band", "n_docs", "tokens", "types", "ttr_bp")
        .orderBy("band")
    )


TEXT_TTR_CURVE_SQL = f"""
{_SQL_PREP}, per_doc AS (
  SELECT CAST(len(toks) AS BIGINT) AS n_toks,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_types
  FROM t
), banded AS (
  SELECT CASE WHEN n_toks <= {TTR_BANDS[0]} THEN 'a_le{TTR_BANDS[0]}'
              WHEN n_toks <= {TTR_BANDS[1]} THEN 'b_le{TTR_BANDS[1]}'
              WHEN n_toks <= {TTR_BANDS[2]} THEN 'c_le{TTR_BANDS[2]}'
              WHEN n_toks <= {TTR_BANDS[3]} THEN 'd_le{TTR_BANDS[3]}'
              ELSE 'e_gt{TTR_BANDS[3]}' END AS band,
         n_toks, n_types
  FROM per_doc
)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS tokens,
       CAST(SUM(n_types) AS BIGINT) AS types,
       (CAST(SUM(n_types) AS BIGINT) * 10000)
         // CAST(SUM(n_toks) AS BIGINT) AS ttr_bp
FROM banded
GROUP BY band
ORDER BY band
"""


# ---------------------------------------------------------------------------
# Round 7: cross-language vocabulary overlap (contamination screen)
# ---------------------------------------------------------------------------

def lang_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between languages — the
    language-contamination screen for multilingual corpora: two
    languages whose vocabularies overlap far above the
    cognate/named-entity baseline indicate mislabeled documents
    (langid drift) polluting both slices. Read next to
    langid_confusion: that audits the CLASSIFIER against labels,
    this audits the LABELS against each other.

    Integer-exact: set sizes and intersection counts, one DIV per
    pair for jaccard_e6.

    Plan: (lang, tok) DISTINCT lattice (one partial-agg exchange,
    map-side combined), then a tok-keyed self-join producing only
    lang_a < lang_b pairs → |langs|²/2-row aggregate; vocab sizes
    re-join by broadcast (|langs| rows). The join is
    |vocab|·|langs|-bounded, never corpus-bounded — at 100 TB the
    explode is the only data-proportional stage.
    """
    # spread reverted (r11 A/B): the exchange cost the fixture +0.41 s vs no-spread at sf0.1; map work here is too light to earn it
    toks = _docs_with_tokens(spark, sf_dir, spread=False)
    # localCheckpoint (r11, guide §3.3): the (lang, tok) lattice feeds
    # sizes AND both self-join sides — uncheckpointed, tokenize +
    # explode + distinct ran three times (4 parquet scans in the
    # executed plan).
    vocab = (
        toks.select("lang", F.explode("toks").alias("tok")).distinct()
    ).localCheckpoint()
    sizes = vocab.groupBy("lang").agg(F.count(F.lit(1)).alias("v"))
    a = vocab.alias("a")
    b = vocab.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.lang") < F.col("b.lang")),
        )
        .groupBy(
            F.col("a.lang").alias("lang_a"), F.col("b.lang").alias("lang_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(
        F.col("lang").alias("lang_a"), F.col("v").alias("vocab_a")
    )
    sb = sizes.select(
        F.col("lang").alias("lang_b"), F.col("v").alias("vocab_b")
    )
    return (
        inter.join(F.broadcast(sa), "lang_a")
        .join(F.broadcast(sb), "lang_b")
        .withColumn(
            "jaccard_e6",
            F.expr("(inter * 1000000) DIV (vocab_a + vocab_b - inter)"),
        )
        .select("lang_a", "lang_b", "vocab_a", "vocab_b", "inter", "jaccard_e6")
        .orderBy("lang_a", "lang_b")
    )


LANG_VOCAB_OVERLAP_SQL = f"""
{_SQL_PREP}, vocab AS (
  SELECT DISTINCT lang, tok
  FROM (SELECT lang, unnest(toks) AS tok FROM t)
), sizes AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS v FROM vocab GROUP BY lang
), inter AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b,
         CAST(COUNT(*) AS BIGINT) AS inter
  FROM vocab a JOIN vocab b
    ON a.tok = b.tok AND a.lang < b.lang
  GROUP BY a.lang, b.lang
)
SELECT lang_a, lang_b,
       sa.v AS vocab_a, sb.v AS vocab_b, inter,
       (inter * 1000000) // (sa.v + sb.v - inter) AS jaccard_e6
FROM inter
JOIN sizes sa ON sa.lang = inter.lang_a
JOIN sizes sb ON sb.lang = inter.lang_b
ORDER BY lang_a, lang_b
"""


# ---------------------------------------------------------------------------
# Round 8: cross-source contamination matrix (n-gram-index tier)
# ---------------------------------------------------------------------------

def contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 8-gram contamination between SOURCES — the
    train/eval-split audit at the n-gram-index tier:
    text_decontaminate flags individual documents against one
    benchmark set; this reports, for every source pair, how many
    distinct 8-gram shingles they share and the containment ratio
    (shared ÷ smaller side, ppm) — the number that says "source A
    is substantially inside source B", which Jaccard dilutes when
    sizes differ. lang_vocab_overlap audits LABELS at the token
    tier; this audits PROVENANCE at the n-gram tier.

    Integer-exact: distinct-set sizes, intersection counts, one DIV
    per pair.

    Plan: one (source, shingle) DISTINCT lattice (the n-gram
    index — per-row transform then partial-agg'd distinct), a
    shingle-keyed self-join emitting only a < b pairs
    (|shared-gram postings|-bounded, never corpus-bounded), sizes
    re-joined by broadcast (|sources| rows ≤ dozens)."""
    # spread=False: the grams lattice is referenced 3× (sizes + both
    # self-join sides) — each reference re-evaluates the subtree
    # with its own pruning, so no ReusedExchange unifies the spread
    # shuffles and each reference pays one (measured 1.2 s → 1.8 s)
    docs = _docs_with_tokens(spark, sf_dir, spread=False)
    # localCheckpoint (r11, guide §3.3): those same 3 references each
    # re-ran tokenize + 8-gram explode + distinct; the n-gram index
    # now materializes once (it is the distinct (source, gram)
    # posting set — bounded by the index size, not the corpus).
    grams = docs.select(
        "source", F.explode(word_shingles("toks", 8)).alias("g")
    ).distinct().localCheckpoint()
    sizes = grams.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_grams").alias("grams_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_grams").alias("grams_b")
    )
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .withColumn(
            "containment_ppm",
            F.expr(
                "(shared_grams * 1000000) DIV least(grams_a, grams_b)"
            ),
        )
        .select(
            "source_a", "source_b", "grams_a", "grams_b",
            "shared_grams", "containment_ppm",
        )
        .orderBy(F.desc("containment_ppm"), "source_a", "source_b")
    )


CONTAMINATION_MATRIX_SQL = f"""
WITH t AS (
  SELECT source, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), grams AS (
  SELECT DISTINCT source, g
  FROM (SELECT source, unnest({sql_word_shingles('toks', 8)}) AS g FROM t)
), sizes AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
  FROM grams GROUP BY source
), inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS shared_grams
  FROM grams a JOIN grams b
    ON a.g = b.g AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT source_a, source_b,
       sa.n_grams AS grams_a, sb.n_grams AS grams_b, shared_grams,
       (shared_grams * 1000000) // least(sa.n_grams, sb.n_grams)
         AS containment_ppm
FROM inter
JOIN sizes sa ON sa.source = inter.source_a
JOIN sizes sb ON sb.source = inter.source_b
ORDER BY containment_ppm DESC, source_a, source_b
"""


# ---------------------------------------------------------------------------
# Round 8: character-class profile per language
# ---------------------------------------------------------------------------

def text_char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-class mix: shares (bp) of digits,
    uppercase letters, and non-alphanumeric-non-space symbols in
    the corpus slice — the cheap encoding/quality tripwire (a
    "prose" slice whose digit share spikes is tables or logs; an
    upper-case spike is boilerplate/headers). Complements
    text_quality_score's per-document gates with a per-slice
    profile.

    Integer-exact: class counts are regexp-strip length differences
    per row (BIGINT), shares one DIV per class.

    Plan: map-only per-row expressions → one partial agg to
    |langs| rows. The regexes run inside codegen, no explode."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id").where(
        F.length(F.trim("text")) > 0
    )
    per_doc = docs.select(
        "lang",
        F.expr("CAST(length(text) AS BIGINT)").alias("chars"),
        F.expr(
            "CAST(length(regexp_replace(text, '[^0-9]', '')) AS BIGINT)"
        ).alias("digits"),
        F.expr(
            "CAST(length(regexp_replace(text, '[^A-Z]', '')) AS BIGINT)"
        ).alias("uppers"),
        F.expr(
            "CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '')) "
            "AS BIGINT)"
        ).alias("symbols"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("chars").alias("chars"),
            F.sum("digits").alias("digits"),
            F.sum("uppers").alias("uppers"),
            F.sum("symbols").alias("symbols"),
        )
        .select(
            "lang",
            "n_docs",
            "chars",
            F.expr("(digits * 10000) DIV chars").alias("digit_bp"),
            F.expr("(uppers * 10000) DIV chars").alias("upper_bp"),
            F.expr("(symbols * 10000) DIV chars").alias("symbol_bp"),
        )
        .orderBy("lang")
    )


TEXT_CHAR_CLASS_PROFILE_SQL = """
WITH per_doc AS (
  SELECT lang,
         CAST(length(text) AS BIGINT) AS chars,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
           AS digits,
         CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS BIGINT)
           AS uppers,
         CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
           AS BIGINT) AS symbols
  FROM documents WHERE length(trim(text)) > 0
), agg AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(chars) AS BIGINT) AS chars,
         CAST(SUM(digits) AS BIGINT) AS digits,
         CAST(SUM(uppers) AS BIGINT) AS uppers,
         CAST(SUM(symbols) AS BIGINT) AS symbols
  FROM per_doc GROUP BY lang
)
SELECT lang, n_docs, chars,
       (digits * 10000) // chars AS digit_bp,
       (uppers * 10000) // chars AS upper_bp,
       (symbols * 10000) // chars AS symbol_bp
FROM agg
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Round 8: robust length outliers (median/MAD)
# ---------------------------------------------------------------------------

def doc_length_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-language length-outlier screen: median n_chars and
    the median absolute deviation (MAD — the robust sigma that one
    giant concatenated document cannot inflate, unlike the stddev a
    z-score screen leans on), then the count and share (bp) of
    documents beyond 3×MAD. The curation gate for
    truncation/concatenation artifacts.

    Determinism: medians use the verified interpolated-percentile
    contract on BIGINT inputs; deviations stay integer until the
    single ×2 fixed-point when the interpolated median is a .5.

    Plan: per-lang median (one agg), broadcast back, per-lang MAD
    (second agg over |docs| deviations), broadcast again, final
    per-lang outlier count — three lang-keyed aggregates, each
    partial-agg'd; nothing row-expanded."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id").where(
        F.length(F.trim("text")) > 0
    )
    # ×2 fixed-point so the interpolated median (possible .5) stays
    # integer-exact in both engines
    med = docs.groupBy("lang").agg(
        F.expr(
            "CAST(percentile(n_chars * 2, CAST(0.5 AS DOUBLE)) AS BIGINT)"
        ).alias("med2")
    )
    # localCheckpoint (r11, guide §3.3): the deviation lattice feeds
    # the MAD aggregate AND the final outlier pass — uncheckpointed,
    # the docs scan + median join ran twice. Narrow (4 columns),
    # |docs| rows, once.
    dev = docs.join(F.broadcast(med), "lang").select(
        "lang",
        "n_chars",
        "med2",
        F.expr("abs(n_chars * 2 - med2)").alias("adev2"),
    ).localCheckpoint()
    mad = dev.groupBy("lang").agg(
        F.expr(
            "CAST(percentile(adev2 * 2, CAST(0.5 AS DOUBLE)) AS BIGINT)"
        ).alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("med2").alias("med2"),
            F.max("mad4").alias("mad4"),
            F.sum(
                F.expr(
                    "CASE WHEN adev2 * 2 > 3 * mad4 THEN 1 ELSE 0 END"
                )
            ).alias("n_outliers"),
        )
        .select(
            "lang",
            "n_docs",
            F.expr("med2 DIV 2").alias("median_chars"),
            F.expr("mad4 DIV 4").alias("mad_chars"),
            "n_outliers",
            F.expr("(n_outliers * 10000) DIV n_docs").alias("outlier_bp"),
        )
        .orderBy("lang")
    )


DOC_LENGTH_MAD_OUTLIERS_SQL = """
WITH docs AS (
  SELECT lang, n_chars FROM documents WHERE length(trim(text)) > 0
), med AS (
  SELECT lang,
         CAST(quantile_cont(n_chars * 2, CAST(0.5 AS DOUBLE)) AS BIGINT)
           AS med2
  FROM docs GROUP BY lang
), dev AS (
  SELECT d.lang, d.n_chars, m.med2,
         abs(d.n_chars * 2 - m.med2) AS adev2
  FROM docs d JOIN med m ON d.lang = m.lang
), mad AS (
  SELECT lang,
         CAST(quantile_cont(adev2 * 2, CAST(0.5 AS DOUBLE)) AS BIGINT)
           AS mad4
  FROM dev GROUP BY lang
), agg AS (
  SELECT v.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(MAX(v.med2) AS BIGINT) AS med2,
         CAST(MAX(a.mad4) AS BIGINT) AS mad4,
         CAST(SUM(CASE WHEN v.adev2 * 2 > 3 * a.mad4 THEN 1 ELSE 0 END)
           AS BIGINT) AS n_outliers
  FROM dev v JOIN mad a ON v.lang = a.lang
  GROUP BY v.lang
)
SELECT lang, n_docs,
       med2 // 2 AS median_chars,
       mad4 // 4 AS mad_chars,
       n_outliers,
       (n_outliers * 10000) // n_docs AS outlier_bp
FROM agg
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Round 8 (batch 6): token-length profile per language
# ---------------------------------------------------------------------------

def doc_token_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution per language (1-2, 3-4, 5-7, 8-11,
    12+ character bands, shares in bp) — the tokenizer-planning
    profile: a slice whose mass sits in 12+ is agglutinative or
    concatenation-corrupted, and budgets tokens very differently
    from one centered on 3-4. Complements text_token_stats'
    per-document means with the corpus SHAPE.

    Integer-exact: band counts + one DIV per band.

    Plan: explode → map-only banding → (lang, band) partial agg
    (map-side combined to ≤ |langs|·5 rows); the share window runs
    on those cells. The explode is the only corpus-proportional
    stage."""
    docs = _docs_with_tokens(spark, sf_dir)
    banded = docs.select(
        "lang", F.explode("toks").alias("tok")
    ).select(
        "lang",
        F.expr(
            "CASE WHEN length(tok) <= 2 THEN 0 WHEN length(tok) <= 4 "
            "THEN 1 WHEN length(tok) <= 7 THEN 2 WHEN length(tok) <= 11 "
            "THEN 3 ELSE 4 END"
        ).alias("band"),
    )
    return (
        banded.groupBy("lang", "band")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
        .withColumn(
            "share_bp",
            F.expr(
                "(n_tokens * 10000) DIV SUM(n_tokens) "
                "OVER (PARTITION BY lang)"
            ),
        )
        .orderBy("lang", "band")
    )


DOC_TOKEN_LENGTH_PROFILE_SQL = f"""
{_SQL_PREP}, banded AS (
  SELECT lang,
         CASE WHEN length(tok) <= 2 THEN 0 WHEN length(tok) <= 4 THEN 1
              WHEN length(tok) <= 7 THEN 2 WHEN length(tok) <= 11 THEN 3
              ELSE 4 END AS band
  FROM (SELECT lang, unnest(toks) AS tok FROM t)
), agg AS (
  SELECT lang, band, CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM banded GROUP BY 1, 2
)
SELECT lang, band, n_tokens,
       (n_tokens * 10000) // CAST(SUM(n_tokens)
         OVER (PARTITION BY lang) AS BIGINT) AS share_bp
FROM agg
ORDER BY lang, band
"""


# ---------------------------------------------------------------------------
# Round 8 (batch 6): vocabulary concentration per source
# ---------------------------------------------------------------------------

def source_vocab_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary concentration per source: Gini impurity
    1 − Σp² over token frequencies in parts-per-million (the
    log-free diversity measure — low gini_ppm = a few tokens
    dominate, the template/boilerplate signature;
    text_boilerplate finds the repeated LINES, this flags the
    slice-level symptom). Top-token share rides alongside.

    Integer-exact: per-token shares in ppm (integer DIV), Σshare²
    folded back by one DIV; top share via a bounded window.

    Plan: (source, tok) partial agg (the explode is the only
    corpus-proportional stage), per-source fold over vocab rows
    with a source-partitioned total window — never a global sort."""
    # spread reverted (r11 A/B): the exchange cost the fixture +0.29 s vs no-spread at sf0.1; map work here is too light to earn it
    docs = _docs_with_tokens(spark, sf_dir, spread=False)
    tf = (
        docs.select("source", F.explode("toks").alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    shared = tf.withColumn(
        "total", F.expr("SUM(n) OVER (PARTITION BY source)")
    ).withColumn("share_ppm", F.expr("(n * 1000000) DIV total"))
    return (
        shared.groupBy("source")
        .agg(
            F.max("total").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.expr(
                "CAST(1000000 - SUM(share_ppm * share_ppm) DIV 1000000 "
                "AS BIGINT)"
            ).alias("gini_ppm"),
            F.max("share_ppm").alias("top_token_ppm"),
        )
        .orderBy("gini_ppm", "source")
    )


SOURCE_VOCAB_GINI_SQL = """
WITH t AS (
  SELECT source, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), tf AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT source, unnest(toks) AS tok FROM t)
  GROUP BY 1, 2
), shared AS (
  SELECT source, tok, n,
         CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT) AS total,
         (n * 1000000) // CAST(SUM(n) OVER (PARTITION BY source)
           AS BIGINT) AS share_ppm
  FROM tf
)
SELECT source,
       CAST(MAX(total) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(1000000 - SUM(share_ppm * share_ppm) // 1000000 AS BIGINT)
         AS gini_ppm,
       CAST(MAX(share_ppm) AS BIGINT) AS top_token_ppm
FROM shared
GROUP BY source
ORDER BY gini_ppm, source
"""


# ---------------------------------------------------------------------------
# Round 9: vocab coverage, language-ID margin, boilerplate prefixes
# ---------------------------------------------------------------------------

#: Rank checkpoints for the coverage curve (tokenizer budget sizes).
COVERAGE_KS = (10, 100, 1000)


def vocab_coverage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget coverage curve: what share of all token
    OCCURRENCES the top-k vocabulary covers at k = 10/100/1000 —
    the one-line answer to "how big must the vocab be". Complements
    vocab_growth_curve (types vs docs seen): growth counts NEW
    types, coverage weights them by frequency, which is what a
    fixed-budget tokenizer actually cares about.

    Scale shape: the vocabulary is corpus-growing, so the ranking
    deliberately avoids a global-window sort — TakeOrdered (orderBy
    + limit, parallel partial top-k per partition) bounds the ranked
    relation to 1000 rows BEFORE the only window runs. Total
    occurrences come from a 1-row agg broadcast back. Ties at the
    boundary break by (freq DESC, term ASC) — a total order, so the
    cut is engine-exact.

    Output: one row per checkpoint k with the vocabulary size
    actually available at k and coverage in bp."""
    # spread reverted (r11 A/B): the exchange cost the fixture +0.27 s vs no-spread at sf0.1; map work here is too light to earn it
    df = _docs_with_tokens(spark, sf_dir, spread=False)
    freq = (
        df.select(F.explode("toks").alias("tok"))
        .select(F.lower("tok").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    top = freq.orderBy(
        F.col("tf").desc(), F.col("term").asc()
    ).limit(max(COVERAGE_KS))
    ranked = top.withColumn(
        "rnk",
        F.expr("row_number() OVER (ORDER BY tf DESC, term ASC)"),
    )
    total = freq.agg(F.sum("tf").cast("long").alias("total_tf"))
    ks = ", ".join(str(k) for k in COVERAGE_KS)
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            F.explode(F.expr(f"array({ks})")).alias("k"),
            "rnk",
            "tf",
            "total_tf",
        )
        .where(F.col("rnk") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab_at_k"),
            F.sum("tf").cast("long").alias("covered_tf"),
            F.max("total_tf").cast("long").alias("total_tf"),
        )
        .withColumn(
            "coverage_bp", F.expr("(covered_tf * 10000) DIV total_tf")
        )
        .orderBy("k")
    )


VOCAB_COVERAGE_TOPK_SQL = f"""
{_SQL_PREP},
freq AS (
  SELECT lower(tok) AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT unnest(toks) AS tok FROM t) u
  GROUP BY 1
), ranked AS (
  SELECT term, tf,
         CAST(row_number() OVER (ORDER BY tf DESC, term ASC) AS BIGINT)
           AS rnk
  FROM freq
  ORDER BY tf DESC, term ASC
  LIMIT {max(COVERAGE_KS)}
), total AS (
  SELECT CAST(SUM(tf) AS BIGINT) AS total_tf FROM freq
), pts AS (
  SELECT k, rnk, tf, total_tf
  FROM ranked, total, (SELECT unnest([{", ".join(str(k) for k in COVERAGE_KS)}]) AS k)
  WHERE rnk <= k
)
SELECT CAST(k AS INTEGER) AS k,
       CAST(COUNT(*) AS BIGINT) AS vocab_at_k,
       CAST(SUM(tf) AS BIGINT) AS covered_tf,
       CAST(MAX(total_tf) AS BIGINT) AS total_tf,
       (CAST(SUM(tf) AS BIGINT) * 10000) // CAST(MAX(total_tf) AS BIGINT)
         AS coverage_bp
FROM pts
GROUP BY k
ORDER BY k
"""


def langid_margin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confidence audit: per PREDICTED language, how
    decisive the argmax was — the margin between the best and
    second-best marker scores. langid_confusion grades accuracy
    against labels; this screens calibration WITHOUT labels (margin
    0 = a coin flip that the alphabetical tie-break decided — route
    to review, don't trust).

    Second-best via the pairwise-least identity (max over pairs of
    least(sᵢ, sⱼ) = the second maximum) — closed form, identical
    text in both engines, no sort. Map-only scoring then one
    |langs|-row agg."""
    df = _docs_with_tokens(spark, sf_dir)
    for lang, markers in LANG_MARKERS.items():
        df = df.withColumn(f"score_{lang}", F.expr(_score_expr(markers)))
    langs = sorted(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    second = "greatest(" + ", ".join(
        f"least(score_{a}, score_{b})"
        for i, a in enumerate(langs)
        for b in langs[i + 1:]
    ) + ")"
    predicted = _argmax_case("score_{lang}")
    scored = df.select(
        F.expr(predicted).alias("predicted_lang"),
        F.expr(f"CAST({best} - {second} AS BIGINT)").alias("margin"),
    )
    return (
        scored.groupBy("predicted_lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("margin").cast("long").alias("margin_sum"),
            F.sum((F.col("margin") == 0).cast("int")).cast("long").alias(
                "n_ties"
            ),
        )
        .select(
            "predicted_lang",
            "n_docs",
            F.expr("(margin_sum * 100) DIV n_docs").alias(
                "avg_margin_x100"
            ),
            "n_ties",
            F.expr("(n_ties * 10000) DIV n_docs").alias("tie_bp"),
        )
        .orderBy("predicted_lang")
    )


def _langid_margin_audit_sql() -> str:
    langs = sorted(LANG_MARKERS)
    scores = ", ".join(
        f"{_sql_score(m)} AS score_{lang}"
        for lang, m in sorted(LANG_MARKERS.items())
    )
    best = "greatest(" + ", ".join(f"score_{lg}" for lg in langs) + ")"
    second = "greatest(" + ", ".join(
        f"least(score_{a}, score_{b})"
        for i, a in enumerate(langs)
        for b in langs[i + 1:]
    ) + ")"
    return f"""
{_SQL_PREP},
s AS (SELECT doc_id, {scores} FROM t),
m AS (
  SELECT {_argmax_case("score_{lang}")} AS predicted_lang,
         CAST({best} - {second} AS BIGINT) AS margin
  FROM s
), agg AS (
  SELECT predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(margin) AS BIGINT) AS margin_sum,
         CAST(SUM(CASE WHEN margin = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ties
  FROM m GROUP BY 1
)
SELECT predicted_lang, n_docs,
       (margin_sum * 100) // n_docs AS avg_margin_x100,
       n_ties,
       (n_ties * 10000) // n_docs AS tie_bp
FROM agg
ORDER BY predicted_lang
"""


LANGID_MARGIN_AUDIT_SQL = _langid_margin_audit_sql()


#: Prefix width (chars) and the shared-by threshold for the
#: boilerplate screen.
BP_PREFIX_LEN = 32
BP_MIN_SHARED = 5


def boilerplate_prefix_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-header screen: per source, the share of documents
    whose first BP_PREFIX_LEN characters are shared by at least
    BP_MIN_SHARED documents OF THAT SOURCE — scraped corpora betray
    templating (cookie banners, nav headers) exactly this way, and
    chunk_boilerplate (line-level) misses single-line headers baked
    into the first sentence. Deduplicate or strip before training.

    Exact and scale-safe: one (source, prefix) agg — never a pairwise
    comparison; the prefix lattice is corpus-bounded like any
    group-by."""
    # spread reverted (r11 A/B): the exchange cost the fixture +0.47 s vs no-spread at sf0.1; map work here is too light to earn it
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    pref = docs.select(
        "source",
        F.substring(F.trim("text"), 1, BP_PREFIX_LEN).alias("prefix"),
    )
    groups = pref.groupBy("source", "prefix").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        groups.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_prefixes"),
            F.sum(
                F.when(
                    F.col("n") >= BP_MIN_SHARED, F.col("n")
                ).otherwise(0)
            ).cast("long").alias("boilerplate_docs"),
        )
        .withColumn(
            "boilerplate_bp",
            F.expr("(boilerplate_docs * 10000) DIV n_docs"),
        )
        .orderBy("source")
    )


BOILERPLATE_PREFIX_RATE_SQL = f"""
WITH pref AS (
  SELECT source, substring(trim(text), 1, {BP_PREFIX_LEN}) AS prefix
  FROM documents WHERE length(trim(text)) > 0
), groups AS (
  SELECT source, prefix, CAST(COUNT(*) AS BIGINT) AS n
  FROM pref GROUP BY 1, 2
), agg AS (
  SELECT source,
         CAST(SUM(n) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_prefixes,
         CAST(SUM(CASE WHEN n >= {BP_MIN_SHARED} THEN n ELSE 0 END)
           AS BIGINT) AS boilerplate_docs
  FROM groups GROUP BY 1
)
SELECT source, n_docs, n_prefixes, boilerplate_docs,
       (boilerplate_docs * 10000) // n_docs AS boilerplate_bp
FROM agg
ORDER BY source
"""


def doc_lang_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance × language contingency table: per (source, lang)
    cell the document count, token mass, and the cell's share of its
    source (bp) — the corpus-composition card a multilingual
    training mix is balanced from (mix_sources weights by source
    alone; a source whose language mix shifted between crawls is
    invisible there).

    One (source, lang) agg; shares over a keyed window."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id").where(
        F.length(F.trim("text")) > 0
    ).select("source", "lang", F.col("n_chars").alias("nc"))
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nc").cast("long").alias("n_chars"),
        )
        .withColumn(
            "share_bp",
            F.expr(
                "CAST((n_docs * 10000) DIV (SUM(n_docs) OVER "
                "(PARTITION BY source)) AS BIGINT)"
            ),
        )
        .orderBy("source", "lang")
    )


DOC_LANG_SOURCE_MATRIX_SQL = """
WITH d AS (
  SELECT source, lang, n_chars AS nc
  FROM documents WHERE length(trim(text)) > 0
), agg AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(nc) AS BIGINT) AS n_chars
  FROM d GROUP BY 1, 2
)
SELECT source, lang, n_docs, n_chars,
       (n_docs * 10000) //
         CAST(SUM(n_docs) OVER (PARTITION BY source) AS BIGINT)
         AS share_bp
FROM agg
ORDER BY source, lang
"""


def cross_source_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source mirroring screen at two exactness tiers: for
    every source pair, how many byte-identical text bodies both
    carry (md5 of the trimmed text) and how many share a 64-char
    lowercased prefix fingerprint — the wholesale-syndication twin
    of contamination_matrix's 8-gram containment (paraphrase tier).
    Exact mirrors are rare in a healthy corpus (the md5 tier is the
    alarm); the prefix tier catches re-crawls that only differ in
    trailing boilerplate.

    Scale shape: per-(fingerprint, source) dedup FIRST, so both pair
    stages join DISTINCT rows keyed on the fingerprint — bounded by
    duplicated fingerprints, never the corpus."""
    # spread reverted (r11 A/B): the exchange cost the fixture +0.52 s vs no-spread at sf0.1; map work here is too light to earn it
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )

    def pair_counts(fp_col, out):
        # localCheckpoint (r11, guide §3.3): each tier's distinct
        # (source, fingerprint) lattice feeds both self-join sides —
        # uncheckpointed, the scan + md5/prefix + distinct ran twice
        # per tier (4 parquet scans in the executed plan).
        d = docs.select("source", fp_col.alias("h")).distinct().localCheckpoint()
        a = d.select(F.col("source").alias("source_a"), "h")
        b = d.select(F.col("source").alias("source_b"), "h")
        return (
            a.join(b, "h")
            .where(F.col("source_a") < F.col("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).cast("long").alias(out))
        )

    exact = pair_counts(F.md5(F.trim("text")), "n_exact")
    prefix = pair_counts(
        F.substring(F.lower(F.trim("text")), 1, 64), "n_prefix"
    )
    return (
        prefix.join(exact, ["source_a", "source_b"], "full_outer")
        .select(
            "source_a",
            "source_b",
            F.coalesce("n_prefix", F.lit(0)).cast("long").alias(
                "n_prefix"
            ),
            F.coalesce("n_exact", F.lit(0)).cast("long").alias("n_exact"),
        )
        .orderBy("source_a", "source_b")
    )


CROSS_SOURCE_EXACT_DUPS_SQL = """
WITH docs AS (
  SELECT source, trim(text) AS body
  FROM documents WHERE length(trim(text)) > 0
), dp AS (
  SELECT DISTINCT source, substring(lower(body), 1, 64) AS h FROM docs
), de AS (
  SELECT DISTINCT source, md5(body) AS h FROM docs
), prefix AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_prefix
  FROM dp a JOIN dp b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
), exact AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM de a JOIN de b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT COALESCE(p.source_a, e.source_a) AS source_a,
       COALESCE(p.source_b, e.source_b) AS source_b,
       CAST(COALESCE(p.n_prefix, 0) AS BIGINT) AS n_prefix,
       CAST(COALESCE(e.n_exact, 0) AS BIGINT) AS n_exact
FROM prefix p
FULL OUTER JOIN exact e
  ON p.source_a = e.source_a AND p.source_b = e.source_b
ORDER BY 1, 2
"""


def source_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality rollup of the text_quality screen: doc
    count, keep rate (bp) and the mean composite score (×1000 fixed-
    point) — the one-row-per-source card a mixing stage downweights
    from (text_quality verdicts per DOC; a source-level decision
    needs the aggregate, and averaging doubles across rows would be
    partition-order dependent, so the score lands on a ×1000 integer
    lattice per row BEFORE the sum).

    Shares text_quality's exact ratio/score expressions — the same
    left-associated weighted sum both engines already agree on
    per-row — so the two screens can never drift."""
    ratios = _quality_ratio_cols()
    df = _docs_with_tokens(spark, sf_dir)
    scored = df.select(
        "source",
        _quality_score(
            ratios["stop_ratio"],
            ratios["distinct_ratio"],
            ratios["punct_ratio"],
            ratios["len_norm"],
        ).alias("score"),
    ).select(
        "source",
        F.expr(
            "CAST(floor(score * 1000 + CAST(0.5 AS DOUBLE)) AS BIGINT)"
        ).alias("score_x1000"),
        (F.col("score") >= 0.5).cast("int").alias("keep"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("keep").cast("long").alias("n_keep"),
            F.sum("score_x1000").cast("long").alias("score_sum"),
        )
        .select(
            "source",
            "n_docs",
            "n_keep",
            F.expr("(n_keep * 10000) DIV n_docs").alias("keep_bp"),
            F.expr("score_sum DIV n_docs").alias("mean_score_x1000"),
        )
        .orderBy("source")
    )


SOURCE_QUALITY_PROFILE_SQL = f"""
WITH t AS (
  SELECT doc_id, source, text,
         string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), ratios AS (
  SELECT source,
  {_SQL_QUALITY_RATIOS}
  FROM t
), r AS (
  SELECT source, {_SQL_QUALITY_SCORE} AS score
  FROM ratios
), scored AS (
  SELECT source,
         CAST(floor(score * 1000 + CAST(0.5 AS DOUBLE)) AS BIGINT)
           AS score_x1000,
         CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS keep
  FROM r
), agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(keep) AS BIGINT) AS n_keep,
         CAST(SUM(score_x1000) AS BIGINT) AS score_sum
  FROM scored GROUP BY 1
)
SELECT source, n_docs, n_keep,
       (n_keep * 10000) // n_docs AS keep_bp,
       score_sum // n_docs AS mean_score_x1000
FROM agg
ORDER BY source
"""


QUALITY_BY_BATCH_SQL = f"""
WITH t AS (
  SELECT doc_id, doc_id // 100 AS batch, text,
         string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), ratios AS (
  SELECT batch,
  {_SQL_QUALITY_RATIOS}
  FROM t
), r AS (
  SELECT batch, {_SQL_QUALITY_SCORE} AS score
  FROM ratios
), scored AS (
  SELECT batch,
         CAST(floor(score * 1000 + CAST(0.5 AS DOUBLE)) AS BIGINT)
           AS score_x1000,
         CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS keep
  FROM r
), agg AS (
  SELECT batch, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(keep) AS BIGINT) AS n_keep,
         CAST(SUM(score_x1000) AS BIGINT) AS score_sum
  FROM scored GROUP BY 1
)
SELECT batch, n_docs,
       (n_keep * 10000) // n_docs AS keep_bp,
       score_sum // n_docs AS mean_score_x1000
FROM agg
ORDER BY batch
"""


def text_word_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token-length spectrum: per token length (capped
    at 15+), occurrence count, share of all tokens (bp), and the
    distinct vocabulary at that length — the tokenizer-budget
    companion to doc_token_length_profile's per-source medians. A
    corpus whose mass sits at length 1-2 is symbol soup; a fat 15+
    tail means URLs/code that a word-level tokenizer will shatter.

    Plan (100 TB): the token explode is map-side; everything after
    is a (length, token) partial agg collapsing to ≤15 rows — never
    a corpus-wide sort."""
    # spread reverted (r11 A/B): the exchange cost the fixture +0.25 s vs no-spread at sf0.1; map work here is too light to earn it
    docs = _docs_with_tokens(spark, sf_dir, spread=False)
    toks = docs.select(F.explode("toks").alias("tok")).select(
        F.expr("CAST(least(length(tok), 15) AS BIGINT)").alias("tok_len"),
        "tok",
    )
    per_len = toks.groupBy("tok_len").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("tok").cast("long").alias("vocab"),
    )
    return (
        per_len.withColumn(
            "share_bp",
            F.expr("(n_tokens * 10000) DIV (SUM(n_tokens) OVER ())"),
        )
        .orderBy("tok_len")
    )


TEXT_WORD_LENGTH_PROFILE_SQL = f"""
{_SQL_PREP}, toks AS (
  SELECT CAST(least(length(tok), 15) AS BIGINT) AS tok_len, tok
  FROM t, unnest(toks) AS u(tok)
), per_len AS (
  SELECT tok_len, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab
  FROM toks GROUP BY 1
)
SELECT tok_len, n_tokens, vocab,
       (n_tokens * 10000) // CAST(SUM(n_tokens) OVER () AS BIGINT)
         AS share_bp
FROM per_len
ORDER BY tok_len
"""


def vocab_frequency_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies (the Good–Turing input) per source:
    how many distinct terms occur exactly once, twice, ... five
    times, or 6+ — the vocabulary-health spectrum behind
    text_hapax_ratio's single number. A healthy natural-language
    source shows the Zipf-ish monotone decay; a spectrum spiked at
    one deep class is template text repeating a fixed vocabulary.

    Plan (100 TB): (source, term) partial agg (the explode is the
    only corpus-proportional stage), then a ≤|sources|×6 class agg;
    the share window runs on that grid."""
    # spread reverted (r11 A/B): the exchange cost the fixture +0.27 s vs no-spread at sf0.1; map work here is too light to earn it
    docs = _docs_with_tokens(spark, sf_dir, spread=False)
    tf = (
        docs.select("source", F.explode("toks").alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spectrum = tf.select(
        "source",
        F.expr(
            "CASE WHEN n <= 5 THEN CAST(n AS BIGINT) "
            "ELSE CAST(6 AS BIGINT) END"
        ).alias("freq_class"),
    ).groupBy("source", "freq_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms")
    )
    return (
        spectrum.withColumn(
            "vocab_share_bp",
            F.expr(
                "(n_terms * 10000) DIV "
                "(SUM(n_terms) OVER (PARTITION BY source))"
            ),
        )
        .orderBy("source", "freq_class")
    )


VOCAB_FREQUENCY_SPECTRUM_SQL = """
WITH d AS (
  SELECT source, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), tf AS (
  SELECT source, tok, COUNT(*) AS n
  FROM d, unnest(toks) AS u(tok)
  GROUP BY 1, 2
), spectrum AS (
  SELECT source,
         CASE WHEN n <= 5 THEN CAST(n AS BIGINT)
              ELSE CAST(6 AS BIGINT) END AS freq_class,
         CAST(COUNT(*) AS BIGINT) AS n_terms
  FROM tf GROUP BY 1, 2
)
SELECT source, freq_class, n_terms,
       (n_terms * 10000) //
         CAST(SUM(n_terms) OVER (PARTITION BY source) AS BIGINT)
         AS vocab_share_bp
FROM spectrum
ORDER BY source, freq_class
"""


def boilerplate_suffix_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-FOOTER screen: the suffix twin of
    boilerplate_prefix_rate — per source, the share of documents
    whose LAST BP_PREFIX_LEN characters are shared by at least
    BP_MIN_SHARED documents of that source. Scraped corpora carry
    footers (copyright lines, "subscribe" blocks) as often as
    headers, and a prefix screen alone passes them straight into
    training.

    Exact and scale-safe: one (source, suffix) agg — never a
    pairwise comparison; the suffix lattice is corpus-bounded."""
    # spread reverted (r11 A/B): the exchange cost the fixture +0.39 s vs no-spread at sf0.1; map work here is too light to earn it
    docs = load_table(spark, sf_dir, "documents").where(
        F.length(F.trim("text")) > 0
    )
    suf = docs.select(
        "source",
        F.expr(f"right(trim(text), {BP_PREFIX_LEN})").alias("suffix"),
    )
    groups = suf.groupBy("source", "suffix").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        groups.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_suffixes"),
            F.sum(
                F.when(
                    F.col("n") >= BP_MIN_SHARED, F.col("n")
                ).otherwise(0)
            ).cast("long").alias("boilerplate_docs"),
        )
        .withColumn(
            "boilerplate_bp",
            F.expr("(boilerplate_docs * 10000) DIV n_docs"),
        )
        .orderBy("source")
    )


BOILERPLATE_SUFFIX_RATE_SQL = f"""
WITH suf AS (
  SELECT source, right(trim(text), {BP_PREFIX_LEN}) AS suffix
  FROM documents WHERE length(trim(text)) > 0
), groups AS (
  SELECT source, suffix, CAST(COUNT(*) AS BIGINT) AS n
  FROM suf GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_suffixes,
       CAST(SUM(CASE WHEN n >= {BP_MIN_SHARED} THEN n ELSE 0 END)
         AS BIGINT) AS boilerplate_docs,
       (CAST(SUM(CASE WHEN n >= {BP_MIN_SHARED} THEN n ELSE 0 END)
         AS BIGINT) * 10000) // CAST(SUM(n) AS BIGINT) AS boilerplate_bp
FROM groups
GROUP BY 1
ORDER BY 1
"""


def quality_length_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-policy grid: documents cross-tabbed by quality-score
    band (text_quality's exact composite, floored to tenths) ×
    token-length band — the two axes every keep/drop rule actually
    trades off. text_quality scores one document at a time; this
    shows WHERE the corpus mass sits, so a threshold change can be
    priced (how many docs move) before it ships.

    The score reuses text_quality's exact left-associated composite
    (bit-identical cross-engine), so banding by floor is stable —
    no document can land in different bands on the two engines.

    Plan (100 TB): map-only per-doc scoring → one ≤10×5-cell agg."""
    ratios = _quality_ratio_cols()
    df = _docs_with_tokens(spark, sf_dir)
    scored = df.select(
        F.size("toks").alias("n_tokens"),
        _quality_score(
            ratios["stop_ratio"],
            ratios["distinct_ratio"],
            ratios["punct_ratio"],
            ratios["len_norm"],
        ).alias("quality_score"),
    )
    banded = scored.select(
        F.expr(
            "CAST(least(floor(quality_score * 10), 9) AS BIGINT)"
        ).alias("score_band"),
        F.expr(
            "CASE WHEN n_tokens <= 10 THEN '000-010' "
            "WHEN n_tokens <= 30 THEN '011-030' "
            "WHEN n_tokens <= 100 THEN '031-100' "
            "WHEN n_tokens <= 300 THEN '101-300' "
            "ELSE '300+' END"
        ).alias("len_band"),
        F.expr(
            "CASE WHEN quality_score >= 0.5 THEN 1 ELSE 0 END"
        ).alias("keep"),
    )
    return (
        banded.groupBy("score_band", "len_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("keep").cast("long").alias("n_keep"),
        )
        .orderBy("score_band", "len_band")
    )


QUALITY_LENGTH_MATRIX_SQL = f"""
{_SQL_PREP},
r AS (SELECT
  len(toks) AS n_tokens,
  {_SQL_QUALITY_RATIOS}
  FROM t),
scored AS (
  SELECT n_tokens, {_SQL_QUALITY_SCORE} AS quality_score
  FROM r),
banded AS (
  SELECT CAST(least(floor(quality_score * 10), 9) AS BIGINT) AS score_band,
         CASE WHEN n_tokens <= 10 THEN '000-010'
              WHEN n_tokens <= 30 THEN '011-030'
              WHEN n_tokens <= 100 THEN '031-100'
              WHEN n_tokens <= 300 THEN '101-300'
              ELSE '300+' END AS len_band,
         CASE WHEN quality_score >= 0.5 THEN 1 ELSE 0 END AS keep
  FROM scored)
SELECT score_band, len_band,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(keep) AS BIGINT) AS n_keep
FROM banded
GROUP BY 1, 2
ORDER BY 1, 2
"""


def numeric_token_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level numeric pollution screen: per source, the share
    of tokens that are pure digit runs (bp), the share that are
    digit-bearing (bp), and the distinct pure-number vocabulary —
    text_char_class_profile counts characters; tables, IDs and
    serial dumps show up at the TOKEN level first, and a tokenizer
    budget spent memorizing numbers is wasted.

    Regex kept to character classes only — identical semantics in
    Java regex (Spark) and RE2 (DuckDB).

    Plan (100 TB): map-side token explode → one ≤|sources|-row
    agg."""
    # spread reverted (r11 A/B): the exchange cost the fixture +0.15 s vs no-spread at sf0.1; map work here is too light to earn it
    docs = _docs_with_tokens(spark, sf_dir, spread=False)
    toks = docs.select("source", F.explode("toks").alias("tok")).select(
        "source",
        "tok",
        F.expr(
            "CASE WHEN tok RLIKE '^[0-9]+$' THEN 1 ELSE 0 END"
        ).alias("is_numeric"),
        F.expr(
            "CASE WHEN tok RLIKE '[0-9]' THEN 1 ELSE 0 END"
        ).alias("has_digit"),
    )
    return (
        toks.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("is_numeric").cast("long").alias("numeric_tokens"),
            F.sum("has_digit").cast("long").alias("digit_tokens"),
            F.countDistinct(
                F.when(F.col("is_numeric") == 1, F.col("tok"))
            ).cast("long").alias("numeric_vocab"),
        )
        .withColumn(
            "numeric_rate_bp",
            F.expr("(numeric_tokens * 10000) DIV n_tokens"),
        )
        .withColumn(
            "digit_rate_bp",
            F.expr("(digit_tokens * 10000) DIV n_tokens"),
        )
        .orderBy("source")
    )


NUMERIC_TOKEN_RATE_SQL = """
WITH d AS (
  SELECT source, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), toks AS (
  SELECT source, tok,
         CASE WHEN regexp_matches(tok, '^[0-9]+$') THEN 1 ELSE 0 END
           AS is_numeric,
         CASE WHEN regexp_matches(tok, '[0-9]') THEN 1 ELSE 0 END
           AS has_digit
  FROM d, unnest(toks) AS u(tok)
), agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(is_numeric) AS BIGINT) AS numeric_tokens,
         CAST(SUM(has_digit) AS BIGINT) AS digit_tokens,
         CAST(COUNT(DISTINCT CASE WHEN is_numeric = 1 THEN tok END)
           AS BIGINT) AS numeric_vocab
  FROM toks GROUP BY 1
)
SELECT source, n_tokens, numeric_tokens, digit_tokens, numeric_vocab,
       (numeric_tokens * 10000) // n_tokens AS numeric_rate_bp,
       (digit_tokens * 10000) // n_tokens AS digit_rate_bp
FROM agg
ORDER BY source
"""


# ---------------------------------------------------------------------------
# dup_length_bias (r10)
# ---------------------------------------------------------------------------


def dup_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are duplicated documents systematically shorter (boilerplate,
    stubs, error pages) than unique ones? Docs are classed by the
    canonical prefix signature (dedup_rate_by_batch's first-pass
    screen): ``first`` = a signature's first occurrence, ``dup`` = a
    later one, and per class the count, corpus share (bp), and mean
    length (chars ×100). A dup class much shorter than the firsts
    says the dedup keep-policy should also drop the FIRST copy of
    short templates — a curation decision this table surfaces before
    the MinHash pass prices it.

    Plan (100 TB): signature map-side; one signature-PARTITIONED
    row_number (keyed window); final agg is 2 rows."""
    # spread reverted (r11 A/B): the exchange cost the fixture +0.27 s vs no-spread at sf0.1; map work here is too light to earn it
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.expr(
            "substring(lower(regexp_replace(text, '[^a-zA-Z0-9]', '')),"
            " 1, 64)"
        ).alias("sig"),
    )
    classed = docs.withColumn(
        "dup_class",
        F.expr(
            "CASE WHEN row_number() OVER (PARTITION BY sig "
            "ORDER BY doc_id) > 1 THEN 'dup' ELSE 'first' END"
        ),
    )
    agg = classed.groupBy("dup_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_sum"),
    )
    return (
        agg.withColumn(
            "share_bp",
            F.expr("(n_docs * 10000) DIV SUM(n_docs) OVER ()"),
        )
        .withColumn(
            "mean_chars_x100", F.expr("(chars_sum * 100) DIV n_docs")
        )
        .select("dup_class", "n_docs", "share_bp", "mean_chars_x100")
        .orderBy("dup_class")
    )


DUP_LENGTH_BIAS_SQL = """
WITH docs AS (
  SELECT doc_id, n_chars,
         substr(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')),
                1, 64) AS sig
  FROM documents
), classed AS (
  SELECT CASE WHEN row_number() OVER (PARTITION BY sig ORDER BY doc_id)
              > 1 THEN 'dup' ELSE 'first' END AS dup_class,
         n_chars
  FROM docs
), agg AS (
  SELECT dup_class, COUNT(*) AS n_docs, SUM(n_chars) AS chars_sum
  FROM classed GROUP BY 1
)
SELECT dup_class,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST((n_docs * 10000) // SUM(n_docs) OVER () AS BIGINT)
         AS share_bp,
       CAST((chars_sum * 100) // n_docs AS BIGINT) AS mean_chars_x100
FROM agg
ORDER BY dup_class
"""


# ---------------------------------------------------------------------------
# quality_by_batch (r10)
# ---------------------------------------------------------------------------


def quality_by_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is corpus quality DRIFTING across ingest batches? The
    text_quality composite (same ×1000 lattice and keep rule as
    source_quality_profile, so the screens can never drift) rolled
    per ingest batch (doc_id DIV width, dedup_rate_by_batch's
    convention; against snapshot tables the batches come from the
    ``_txns`` ledger): batch doc count, keep rate (bp), mean score —
    the companion dial to dedup_rate_by_batch: one says the feed is
    re-fetching, this says it is rotting.

    Plan (100 TB): per-doc scoring is map-side expression work; one
    ≤ batches aggregate."""
    from ensembl_lakehouse_spark.operators.dedup import DEDUP_BATCH_WIDTH

    ratios = _quality_ratio_cols()
    df = _docs_with_tokens(spark, sf_dir)
    scored = df.select(
        F.expr(f"doc_id DIV {DEDUP_BATCH_WIDTH}").alias("batch"),
        _quality_score(
            ratios["stop_ratio"],
            ratios["distinct_ratio"],
            ratios["punct_ratio"],
            ratios["len_norm"],
        ).alias("score"),
    ).select(
        "batch",
        F.expr(
            "CAST(floor(score * 1000 + CAST(0.5 AS DOUBLE)) AS BIGINT)"
        ).alias("score_x1000"),
        (F.col("score") >= 0.5).cast("int").alias("keep"),
    )
    return (
        scored.groupBy("batch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("keep").cast("long").alias("n_keep"),
            F.sum("score_x1000").cast("long").alias("score_sum"),
        )
        .select(
            "batch",
            "n_docs",
            F.expr("(n_keep * 10000) DIV n_docs").alias("keep_bp"),
            F.expr("score_sum DIV n_docs").alias("mean_score_x1000"),
        )
        .orderBy("batch")
    )


# ---------------------------------------------------------------------------
# packing_efficiency (r10)
# ---------------------------------------------------------------------------


def packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch packing audit: per source, the token waste of
    per-document padding (every doc rounded up to 512-token chunks —
    the pad-to-max collator) vs GPT-style concat-then-chunk packing
    (waste = only the final partial block), with the padded-waste
    share in bp. pack_sequences BUILDS the packed batches; this
    prices the decision — a short-doc source can waste half its
    compute on pad tokens; padded_waste_bp against the near-zero
    packed_waste is the accelerator time packing buys back. Integer
    arithmetic end to
    end (ceil via (n + 511) DIV 512), so both engines agree bitwise.

    Plan (100 TB): map-only per-doc token counts (the shared
    whitespace tokenizer) → one ≤|sources| partial agg; the packed
    waste is modular arithmetic on the aggregated total."""
    # spread reverted (r11 A/B): the exchange cost the fixture +0.16 s vs no-spread at sf0.1; map work here is too light to earn it
    toks = _docs_with_tokens(spark, sf_dir, spread=False).select(
        "source", F.size("toks").cast("long").alias("n")
    )
    return (
        toks.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("total_tokens"),
            F.sum(F.expr("((n + 511) DIV 512) * 512 - n"))
            .cast("long")
            .alias("padded_waste"),
        )
        .withColumn(
            "packed_waste",
            F.expr("CAST((512 - total_tokens % 512) % 512 AS BIGINT)"),
        )
        .withColumn(
            "padded_waste_bp",
            F.expr(
                "CAST((padded_waste * 10000) DIV "
                "(total_tokens + padded_waste) AS BIGINT)"
            ),
        )
        .orderBy("source")
    )


PACKING_EFFICIENCY_SQL = """
WITH t AS (
  SELECT source,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n
  FROM documents WHERE length(trim(text)) > 0
), agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n) AS BIGINT) AS total_tokens,
         CAST(SUM(((n + 511) // 512) * 512 - n) AS BIGINT)
           AS padded_waste
  FROM t GROUP BY 1
)
SELECT source, n_docs, total_tokens, padded_waste,
       CAST((512 - total_tokens % 512) % 512 AS BIGINT) AS packed_waste,
       CAST((padded_waste * 10000) // (total_tokens + padded_waste)
            AS BIGINT) AS padded_waste_bp
FROM agg
ORDER BY source
"""


# ---------------------------------------------------------------------------
# source_length_skew (r10)
# ---------------------------------------------------------------------------


def source_length_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-distribution drift per source: documents banded by
    n_chars (<100 / <300 / <1000 / <3000 / 3000+), each (source,
    band) cell carrying the band's share of the SOURCE's docs vs the
    band's share of the whole corpus, and the signed gap in bp — a
    source whose mass sits far from the corpus profile (all tweets,
    or all books) needs its own curation thresholds before mixing.
    doc_lang_source_matrix counts composition; this compares
    DISTRIBUTIONS. Cells a source lacks are absent rows (the grid is
    an audit table, not a scalar distance). Integer DIV shares on
    both engines.

    Plan (100 TB): map-only banding → one ≤|sources|×5 partial agg;
    the two share windows run on the bounded grid."""
    # spread reverted (r11 A/B): the exchange cost the fixture +0.27 s vs no-spread at sf0.1; map work here is too light to earn it
    banded = load_table(spark, sf_dir, "documents").select(
        "source",
        F.expr(
            "CASE WHEN n_chars < 100 THEN 'a_lt100' "
            "WHEN n_chars < 300 THEN 'b_lt300' "
            "WHEN n_chars < 1000 THEN 'c_lt1000' "
            "WHEN n_chars < 3000 THEN 'd_lt3000' "
            "ELSE 'e_3000plus' END"
        ).alias("band"),
    )
    grid = banded.groupBy("source", "band").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        grid.withColumn(
            "src_share_bp",
            F.expr(
                "(n_docs * 10000) DIV "
                "(SUM(n_docs) OVER (PARTITION BY source))"
            ),
        )
        .withColumn(
            "corpus_share_bp",
            F.expr(
                "(SUM(n_docs) OVER (PARTITION BY band) * 10000) DIV "
                "(SUM(n_docs) OVER ())"
            ),
        )
        .withColumn(
            "skew_bp", F.expr("src_share_bp - corpus_share_bp")
        )
        .orderBy("source", "band")
    )


SOURCE_LENGTH_SKEW_SQL = """
WITH banded AS (
  SELECT source,
         CASE WHEN n_chars < 100 THEN 'a_lt100'
              WHEN n_chars < 300 THEN 'b_lt300'
              WHEN n_chars < 1000 THEN 'c_lt1000'
              WHEN n_chars < 3000 THEN 'd_lt3000'
              ELSE 'e_3000plus' END AS band
  FROM documents
), grid AS (
  SELECT source, band, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM banded GROUP BY 1, 2
), shared AS (
  SELECT source, band, n_docs,
         (n_docs * 10000)
           // CAST(SUM(n_docs) OVER (PARTITION BY source) AS BIGINT)
           AS src_share_bp,
         (CAST(SUM(n_docs) OVER (PARTITION BY band) AS BIGINT) * 10000)
           // CAST(SUM(n_docs) OVER () AS BIGINT) AS corpus_share_bp
  FROM grid
)
SELECT source, band, n_docs, src_share_bp, corpus_share_bp,
       src_share_bp - corpus_share_bp AS skew_bp
FROM shared
ORDER BY source, band
"""


# ---------------------------------------------------------------------------
# packing_efficiency_curve (r11)
# ---------------------------------------------------------------------------

#: Block sizes the packing curve prices (tokens per training block).
PACKING_BLOCK_SIZES = (128, 256, 512, 1024, 2048)


def packing_efficiency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing_efficiency decision priced ACROSS block sizes in
    ONE pass: corpus-wide padded waste (pad-to-block collator) vs
    packed waste (concat-then-chunk) at 128/256/512/1024/2048-token
    blocks, with the padded-waste share in bp per size. The curve is
    the capacity-planning artifact: padding waste grows with block
    size (every doc rounds up further) while packed waste stays
    sub-block, so the gap between the curves is the accelerator time
    a packed collator buys at each sequence length. Integer ceil
    arithmetic end to end.

    Plan (100 TB): map-only per-doc token counts → ONE global
    partial agg computing every size's padded waste side by side
    (the sizes are literals, not data) → a ≤|sizes|-row explode of
    the single aggregate row. One fact pass for the whole curve —
    running packing_efficiency per size would pay |sizes| scans."""
    toks = _docs_with_tokens(spark, sf_dir).select(
        F.size("toks").cast("long").alias("n")
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("total_tokens"),
    ] + [
        F.sum(F.expr(f"((n + {b - 1}) DIV {b}) * {b} - n"))
        .cast("long")
        .alias(f"pw{b}")
        for b in PACKING_BLOCK_SIZES
    ]
    wide = toks.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("block_size"),
                F.col(f"pw{b}").alias("padded_waste"),
            )
            for b in PACKING_BLOCK_SIZES
        ]
    )
    return (
        wide.select("n_docs", "total_tokens", F.explode(rows).alias("r"))
        .select(
            F.col("r.block_size").alias("block_size"),
            "n_docs",
            "total_tokens",
            F.col("r.padded_waste").alias("padded_waste"),
        )
        .withColumn(
            "packed_waste",
            F.expr(
                "CAST((block_size - total_tokens % block_size) "
                "% block_size AS BIGINT)"
            ),
        )
        .withColumn(
            "padded_waste_bp",
            F.expr(
                "CAST((padded_waste * 10000) DIV "
                "(total_tokens + padded_waste) AS BIGINT)"
            ),
        )
        .orderBy("block_size")
    )


PACKING_EFFICIENCY_CURVE_SQL = """
WITH t AS (
  SELECT CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n
  FROM documents WHERE length(trim(text)) > 0
), wide AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n) AS BIGINT) AS total_tokens,
         CAST(SUM(((n + 127) // 128) * 128 - n) AS BIGINT) AS pw128,
         CAST(SUM(((n + 255) // 256) * 256 - n) AS BIGINT) AS pw256,
         CAST(SUM(((n + 511) // 512) * 512 - n) AS BIGINT) AS pw512,
         CAST(SUM(((n + 1023) // 1024) * 1024 - n) AS BIGINT) AS pw1024,
         CAST(SUM(((n + 2047) // 2048) * 2048 - n) AS BIGINT) AS pw2048
  FROM t
), curve AS (
  SELECT 128 AS block_size, n_docs, total_tokens, pw128 AS padded_waste
  FROM wide
  UNION ALL SELECT 256, n_docs, total_tokens, pw256 FROM wide
  UNION ALL SELECT 512, n_docs, total_tokens, pw512 FROM wide
  UNION ALL SELECT 1024, n_docs, total_tokens, pw1024 FROM wide
  UNION ALL SELECT 2048, n_docs, total_tokens, pw2048 FROM wide
)
SELECT CAST(block_size AS BIGINT) AS block_size, n_docs, total_tokens,
       padded_waste,
       CAST((block_size - total_tokens % block_size) % block_size
            AS BIGINT) AS packed_waste,
       CAST((padded_waste * 10000) // (total_tokens + padded_waste)
            AS BIGINT) AS padded_waste_bp
FROM curve
ORDER BY block_size
"""


# ---------------------------------------------------------------------------
# lang_punctuation_bands (r11)
# ---------------------------------------------------------------------------


def lang_punctuation_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Punctuation-density screen per language: docs banded by
    punctuation per 1000 chars (0 / ≤20 / ≤60 / ≤120 / heavier),
    each (lang, band) cell with its share of the language (bp).
    text_char_class_profile profiles classes corpus-wide and
    text_quality folds punctuation into one score; this isolates the
    punctuation DISTRIBUTION per language — a lang whose mass sits
    in the zero band is list/code scrape, the heavy band is markup
    or OCR noise, and the thresholds differ legitimately by language
    (CJK punctuates less per char). Density is integer per-mille-ish
    (×1000 DIV n_chars) so band edges are engine-exact; empty docs
    are excluded (density undefined).

    Plan (100 TB): map-only regexp count + banding → one
    ≤|langs|·5 partial agg; the share window runs on that grid."""
    docs = load_spread(spark, sf_dir, "documents", "doc_id").where(
        "length(text) > 0"
    )
    banded = docs.select(
        "lang",
        F.expr(
            "CAST((length(regexp_replace(text, '[^.,;:!?]', '')) "
            "* 1000) DIV length(text) AS BIGINT)"
        ).alias("density"),
    ).select(
        "lang",
        F.expr(
            "CASE WHEN density = 0 THEN 'a_none' "
            "WHEN density <= 20 THEN 'b_light' "
            "WHEN density <= 60 THEN 'c_normal' "
            "WHEN density <= 120 THEN 'd_heavy' "
            "ELSE 'e_extreme' END"
        ).alias("band"),
    )
    grid = banded.groupBy("lang", "band").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        grid.withColumn(
            "lang_share_bp",
            F.expr(
                "(n_docs * 10000) DIV (SUM(n_docs) OVER "
                "(PARTITION BY lang))"
            ),
        )
        .orderBy("lang", "band")
    )


LANG_PUNCTUATION_BANDS_SQL = """
WITH d AS (
  SELECT lang,
         CAST((length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
               * 1000) // length(text) AS BIGINT) AS density
  FROM documents WHERE length(text) > 0
), banded AS (
  SELECT lang,
         CASE WHEN density = 0 THEN 'a_none'
              WHEN density <= 20 THEN 'b_light'
              WHEN density <= 60 THEN 'c_normal'
              WHEN density <= 120 THEN 'd_heavy'
              ELSE 'e_extreme' END AS band
  FROM d
), grid AS (
  SELECT lang, band, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM banded GROUP BY 1, 2
)
SELECT lang, band, n_docs,
       (n_docs * 10000)
         // CAST(SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT)
         AS lang_share_bp
FROM grid
ORDER BY lang, band
"""


# ---------------------------------------------------------------------------
# token_case_profile (r11)
# ---------------------------------------------------------------------------


def token_case_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Casing composition per language: alphabetic tokens split into
    lowercase / Capitalized / ALLCAPS / mixed classes, each with its
    share of the language's alphabetic tokens (bp). A lang whose
    ALLCAPS share spikes is shouting-forum or OCR-artifact scrape; a
    Capitalized share far above English's ~15 % is title/listing
    boilerplate. Classes are anchored regexes on the shared
    whitespace tokenizer — non-alphabetic tokens (numbers, urls,
    punctuation runs) are excluded so the denominator means
    something.

    Plan (100 TB): explode over the shared tokenizer → map-only
    class labeling → one ≤|langs|·4 partial agg; the share window
    runs on that grid."""
    toks = _docs_with_tokens(spark, sf_dir).select(
        "lang", F.explode("toks").alias("tok")
    )
    classed = toks.select(
        "lang",
        F.expr(
            "CASE "
            "WHEN tok RLIKE '^[a-z]+$' THEN 'a_lower' "
            "WHEN tok RLIKE '^[A-Z][a-z]+$' THEN 'b_capitalized' "
            "WHEN tok RLIKE '^[A-Z]+$' THEN 'c_allcaps' "
            "WHEN tok RLIKE '^[A-Za-z]+$' THEN 'd_mixed' "
            "ELSE NULL END"
        ).alias("cls"),
    ).where("cls IS NOT NULL")
    grid = classed.groupBy("lang", "cls").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    return (
        grid.withColumn(
            "lang_share_bp",
            F.expr(
                "(n_tokens * 10000) DIV (SUM(n_tokens) OVER "
                "(PARTITION BY lang))"
            ),
        )
        .orderBy("lang", "cls")
    )


TOKEN_CASE_PROFILE_SQL = """
WITH toks AS (
  SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
), classed AS (
  SELECT lang,
         CASE
           WHEN regexp_full_match(tok, '[a-z]+') THEN 'a_lower'
           WHEN regexp_full_match(tok, '[A-Z][a-z]+') THEN 'b_capitalized'
           WHEN regexp_full_match(tok, '[A-Z]+') THEN 'c_allcaps'
           WHEN regexp_full_match(tok, '[A-Za-z]+') THEN 'd_mixed'
           ELSE NULL END AS cls
  FROM toks
), grid AS (
  SELECT lang, cls, CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM classed WHERE cls IS NOT NULL GROUP BY 1, 2
)
SELECT lang, cls, n_tokens,
       (n_tokens * 10000)
         // CAST(SUM(n_tokens) OVER (PARTITION BY lang) AS BIGINT)
         AS lang_share_bp
FROM grid
ORDER BY lang, cls
"""


# ---------------------------------------------------------------------------
# prefix_collision_rate (r11 batch 4)
# ---------------------------------------------------------------------------


def prefix_collision_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-duplication screen per source: documents sharing an
    IDENTICAL first-64-char prefix with another doc of the same
    source — the cheapest near-dup tripwire there is. Scraped dumps
    whose pages share a boilerplate header all collide here long
    before a MinHash pass runs, so curation teams use the prefix
    rate to decide WHICH sources earn the expensive LSH treatment
    (dedup_near) at all. Complements cross_source_exact_dups (whole-
    text hash across sources) with a within-source prefix lens.

    Plan (100 TB): groupBy (source, prefix) — the prefix is 64 bytes
    regardless of document size, so the exchange carries a fixed-
    width key, and group cardinality grows with the corpus (no
    skew pocket beyond true template families); then a per-source
    partial agg to ≤|sources| rows. Two shuffles, no joins.
    """
    docs = (
        # spread reverted (r11 A/B): the exchange cost the fixture +0.27 s vs no-spread at sf0.1; map work here is too light to earn it
        load_table(spark, sf_dir, "documents")
        .where(F.length(F.trim("text")) > 0)
        .select(
            "source", F.expr("substring(text, 1, 64)").alias("prefix")
        )
    )
    groups = docs.groupBy("source", "prefix").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        groups.groupBy("source")
        .agg(
            F.sum("n").alias("n_docs"),
            F.count(F.lit(1)).alias("n_prefixes"),
            F.sum(F.expr("CASE WHEN n > 1 THEN n ELSE 0 END")).alias(
                "colliding_docs"
            ),
            F.max("n").alias("largest_family"),
        )
        .select(
            "source",
            "n_docs",
            "n_prefixes",
            "colliding_docs",
            F.expr("(colliding_docs * 10000) DIV n_docs").alias(
                "collision_bp"
            ),
            "largest_family",
        )
        .orderBy("source")
    )


PREFIX_COLLISION_RATE_SQL = """
WITH groups AS (
  SELECT source, substr(text, 1, 64) AS prefix,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM documents WHERE length(trim(text)) > 0
  GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_prefixes,
       CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
         AS colliding_docs,
       (CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) * 10000)
         // CAST(SUM(n) AS BIGINT) AS collision_bp,
       CAST(MAX(n) AS BIGINT) AS largest_family
FROM groups
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# intra_doc_novelty (r11 batch 4)
# ---------------------------------------------------------------------------


def intra_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document vocabulary novelty per source: how much of
    each document's SECOND half introduces tokens its first half
    never used — novelty_bp = |distinct(2nd) \\ distinct(1st)| /
    |distinct(2nd)| in basis points, averaged per source. Generated
    or template text repeats its own opening vocabulary (low
    novelty); genuine long-form prose keeps introducing terms. The
    per-document twin of ngram_novelty's corpus-level screen, cheap
    enough to run on every ingest batch.

    Docs need ≥2 tokens (an empty second half has no denominator).
    Distinct-set semantics on BOTH sides: Spark's array_except and
    the DuckDB twin's list_filter(list_distinct(...)) agree by
    construction.

    Plan (100 TB): map-only per-document set algebra inside the
    array functions (zero explode, zero shuffle), then ONE
    ≤|sources| partial agg.
    """
    docs = _docs_with_tokens(spark, sf_dir).where(F.size("toks") >= 2)
    scored = docs.select(
        "source",
        F.expr(
            "size(array_except("
            "slice(toks, CAST(size(toks) DIV 2 AS INT) + 1, "
            "size(toks) - CAST(size(toks) DIV 2 AS INT)), "
            "slice(toks, 1, CAST(size(toks) DIV 2 AS INT))))"
        ).alias("novel"),
        F.expr(
            "size(array_distinct("
            "slice(toks, CAST(size(toks) DIV 2 AS INT) + 1, "
            "size(toks) - CAST(size(toks) DIV 2 AS INT))))"
        ).alias("denom"),
    ).select(
        "source",
        F.expr("CAST((novel * 10000) DIV denom AS BIGINT)").alias(
            "novelty_bp"
        ),
        F.expr("CAST(CASE WHEN novel = denom THEN 1 ELSE 0 END AS BIGINT)")
        .alias("fully_novel"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("SUM(novelty_bp) DIV COUNT(1)").alias(
                "avg_novelty_bp"
            ),
            F.min("novelty_bp").alias("min_novelty_bp"),
            F.sum("fully_novel").alias("fully_novel_docs"),
        )
        .orderBy("source")
    )


INTRA_DOC_NOVELTY_SQL = """
WITH t AS (
  SELECT source, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), halves AS (
  SELECT source,
         toks[1 : CAST(len(toks) // 2 AS INT)] AS first_half,
         toks[CAST(len(toks) // 2 AS INT) + 1 : len(toks)] AS second_half
  FROM t WHERE len(toks) >= 2
), scored AS (
  SELECT source,
         CAST(len(list_filter(list_distinct(second_half),
                              x -> NOT list_contains(first_half, x)))
              AS BIGINT) AS novel,
         CAST(len(list_distinct(second_half)) AS BIGINT) AS denom
  FROM halves
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM((novel * 10000) // denom) // COUNT(*) AS BIGINT)
         AS avg_novelty_bp,
       CAST(MIN((novel * 10000) // denom) AS BIGINT) AS min_novelty_bp,
       CAST(SUM(CASE WHEN novel = denom THEN 1 ELSE 0 END) AS BIGINT)
         AS fully_novel_docs
FROM scored
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# token_position_bias (r11 batch 5)
# ---------------------------------------------------------------------------

#: top-N tokens reported by token_position_bias.
POSITION_BIAS_TOPK = 20


def token_position_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE in documents does each high-frequency token live? Mean
    relative position (0 = always document-opening, 10000 = always
    closing) for the corpus's top tokens. Boilerplate headers score
    near 0, sign-off/footer vocabulary near 10⁴, body vocabulary
    ~5000 — the positional fingerprint chunk_boilerplate's
    line-level screen can't see at token granularity.

    Docs need ≥2 tokens (a single token has no relative position).

    Plan (100 TB): posexplode → map-only relative position → ONE
    vocab-bounded partial agg; the top-k is TakeOrdered over the
    vocabulary grid, never over token instances."""
    # spread reverted (r11 A/B): the exchange cost the fixture +0.15 s vs no-spread at sf0.1; map work here is too light to earn it
    docs = _docs_with_tokens(spark, sf_dir, spread=False).where(F.size("toks") >= 2)
    placed = docs.select(
        F.posexplode("toks").alias("pos", "tok"),
        F.size("toks").alias("n"),
    ).select(
        "tok",
        F.expr("(pos * 10000) DIV (n - 1)").alias("rel_bp"),
    )
    return (
        placed.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.expr("SUM(rel_bp) DIV COUNT(1)").alias(
                "mean_position_bp"
            ),
        )
        .orderBy(F.desc("occurrences"), "tok")
        .limit(POSITION_BIAS_TOPK)
    )


TOKEN_POSITION_BIAS_SQL = f"""
WITH t AS (
  SELECT string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), placed AS (
  SELECT unnest(toks) AS tok,
         ((unnest(range(1, len(toks) + 1)) - 1) * 10000)
           // (len(toks) - 1) AS rel_bp
  FROM t WHERE len(toks) >= 2
)
SELECT tok,
       CAST(COUNT(*) AS BIGINT) AS occurrences,
       CAST(SUM(rel_bp) // COUNT(*) AS BIGINT) AS mean_position_bp
FROM placed
GROUP BY tok
ORDER BY occurrences DESC, tok
LIMIT {POSITION_BIAS_TOPK}
"""


# ---------------------------------------------------------------------------
# token_budget_apportionment (r11 batch 5)
# ---------------------------------------------------------------------------

#: total token budget apportioned by token_budget_apportionment.
APPORTION_BUDGET = 1_000_000


def token_budget_apportionment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed training
    token budget across sources, proportional to each source's token
    mass: quota = ⌊B·mass/total⌋, then the leftover B − Σ⌊·⌋ tokens
    go to the largest fractional remainders (ties to the
    alphabetically first source — deterministic). The allocations
    sum to EXACTLY B — what a sampling pipeline actually needs,
    where mix_temperature_weights' independent rounding leaves an
    off-by-Σ gap the data loader would have to fudge.

    Integer-exact throughout: quotas by BIGINT DIV, remainders by %,
    both engines truncating on non-negative operands.

    Plan (100 TB): explode-free token mass per source (map-only
    size()), ONE ≤|sources| partial agg, then rank windows on that
    grid."""
    docs = _docs_with_tokens(spark, sf_dir)
    mass = docs.groupBy("source").agg(
        F.sum(F.size("toks").cast("long")).alias("token_mass")
    )
    b = APPORTION_BUDGET
    quota = mass.select(
        "source",
        "token_mass",
        F.expr(
            f"(CAST(token_mass AS DECIMAL(38,0)) * {b}) "
            "DIV (SUM(token_mass) OVER ())"
        ).cast("long").alias("quota"),
        F.expr(
            f"(CAST(token_mass AS DECIMAL(38,0)) * {b}) "
            "% (SUM(token_mass) OVER ())"
        ).cast("long").alias("remainder"),
    )
    return (
        quota.select(
            "source",
            "token_mass",
            "quota",
            F.expr(
                "row_number() OVER (ORDER BY remainder DESC, source)"
            ).alias("rk"),
            F.expr(f"{b} - SUM(quota) OVER ()").alias("leftover"),
        )
        .select(
            "source",
            "token_mass",
            "quota",
            F.expr(
                "quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END"
            ).alias("allocation"),
        )
        .orderBy("source")
    )


TOKEN_BUDGET_APPORTIONMENT_SQL = f"""
WITH t AS (
  SELECT source, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE length(trim(text)) > 0
), mass AS (
  SELECT source, CAST(SUM(len(toks)) AS BIGINT) AS token_mass
  FROM t GROUP BY 1
), quota AS (
  SELECT source, token_mass,
         CAST((CAST(token_mass AS HUGEINT) * {APPORTION_BUDGET})
              // SUM(token_mass) OVER () AS BIGINT) AS quota,
         CAST((CAST(token_mass AS HUGEINT) * {APPORTION_BUDGET})
              % SUM(token_mass) OVER () AS BIGINT) AS remainder
  FROM mass
), ranked AS (
  SELECT source, token_mass, quota,
         row_number() OVER (ORDER BY remainder DESC, source) AS rk,
         {APPORTION_BUDGET} - SUM(quota) OVER () AS leftover
  FROM quota
)
SELECT source, token_mass, quota,
       CAST(quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS allocation
FROM ranked
ORDER BY source
"""


# ---------------------------------------------------------------------------
# prefix_screen_precision (r11 batch 5)
# ---------------------------------------------------------------------------


def prefix_screen_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration of the cheap dedup tripwire against ground truth:
    per source, documents flagged by the 64-char-prefix screen
    (prefix_collision_rate's signal) crossed with documents that are
    EXACT duplicates (full-text hash). precision_bp says how many
    prefix hits are real whole-document dups; prefix-only hits are
    the template-sharing near-dup tail the screen exists to surface,
    and exact-only hits (distinct prefixes, same body — impossible
    for true full-text dups, so always 0) pin the construction. The
    same shape as dedup_threshold_sensitivity's LSH calibration, at
    the zero-cost end of the screen spectrum.

    Plan (100 TB): two count windows over (source, key) partitions —
    prefix and md5 — on the SAME source-resident rows (two
    exchanges), then a ≤|sources| partial agg. The md5 key keeps the
    second exchange fixed-width regardless of document size."""
    docs = (
        # spread reverted (r11 A/B): the exchange cost the fixture +0.34 s vs no-spread at sf0.1; map work here is too light to earn it
        load_table(spark, sf_dir, "documents")
        .where(F.length(F.trim("text")) > 0)
        .select(
            "source",
            F.expr("substring(text, 1, 64)").alias("prefix"),
            F.expr("md5(text)").alias("h"),
        )
    )
    flagged = docs.select(
        "source",
        F.expr(
            "CASE WHEN COUNT(1) OVER (PARTITION BY source, prefix) > 1 "
            "THEN 1 ELSE 0 END"
        ).alias("pre_hit"),
        F.expr(
            "CASE WHEN COUNT(1) OVER (PARTITION BY source, h) > 1 "
            "THEN 1 ELSE 0 END"
        ).alias("exact_hit"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("pre_hit").alias("prefix_flagged"),
            F.sum("exact_hit").alias("exact_dups"),
            F.sum(F.expr("pre_hit * exact_hit")).alias("both"),
        )
        .select(
            "source",
            "n_docs",
            "prefix_flagged",
            "exact_dups",
            "both",
            F.expr(
                "CASE WHEN prefix_flagged > 0 "
                "THEN (both * 10000) DIV prefix_flagged ELSE 10000 END"
            ).alias("precision_bp"),
        )
        .orderBy("source")
    )


PREFIX_SCREEN_PRECISION_SQL = """
WITH docs AS (
  SELECT source, substr(text, 1, 64) AS prefix, md5(text) AS h
  FROM documents WHERE length(trim(text)) > 0
), flagged AS (
  SELECT source,
         CASE WHEN COUNT(*) OVER (PARTITION BY source, prefix) > 1
              THEN 1 ELSE 0 END AS pre_hit,
         CASE WHEN COUNT(*) OVER (PARTITION BY source, h) > 1
              THEN 1 ELSE 0 END AS exact_hit
  FROM docs
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(pre_hit) AS BIGINT) AS prefix_flagged,
       CAST(SUM(exact_hit) AS BIGINT) AS exact_dups,
       CAST(SUM(pre_hit * exact_hit) AS BIGINT) AS both,
       CASE WHEN SUM(pre_hit) > 0
            THEN (CAST(SUM(pre_hit * exact_hit) AS BIGINT) * 10000)
                 // CAST(SUM(pre_hit) AS BIGINT)
            ELSE 10000 END AS precision_bp
FROM flagged
GROUP BY source
ORDER BY source
"""
