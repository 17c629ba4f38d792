"""Full-text retrieval operators over ``documents`` (EXT X3/X2
adjacent): BM25 ranked search and an inverted-index build.

The reference exposes no text search (its conditions are equality
filters pushed to Athena, app/main.py:477-479); these are the
retrieval primitives a training-data pipeline needs for targeted
corpus slicing ("pull every doc about X"), hard-negative mining, and
benchmark-leak auditing beyond exact n-gram overlap
(pipeline.decontaminate).

Design rules (shared with operators/text.py):

- Pure JVM expressions, zero Python; tokenization comes from
  functions.text so operators can't drift from the shared dialect.
- Hash-exact across engines: BM25's textbook ``ln`` idf is replaced
  by its rational core ``(N - df + 0.5) / (df + 0.5)`` (monotone in
  the same document ordering for a fixed query term, since ln is
  monotone), and per-term score contributions are rounded to
  fixed-point BIGINT **before** the per-document SUM — integer sums
  are partition-order invariant, so Spark's unordered partial aggs
  and DuckDB's sequential scan produce bit-identical totals (the
  multimodal_centroid / embedding_kmeans determinism trick).

At 100 TB: the only wide exchanges move pre-aggregated (doc, term)
or (term) rows, never raw token explosions; the query-term filter is
applied map-side BEFORE the tf aggregation so the shuffled volume is
proportional to matching docs, not corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ensembl_lakehouse_spark.operators.text import _SQL_PREP, _docs_with_tokens

#: Fixed demo query (terms from the fixture vocabulary). A service
#: deployment parameterizes these three literals per request.
QUERY_TERMS: tuple[str, ...] = ("data", "query", "stream")

#: BM25 hyperparameters (the standard Robertson defaults).
BM25_K1 = 1.2
BM25_B = 0.75

#: Results returned.
BM25_TOPK = 20

#: Fixed-point scale for per-term score contributions (nano-units).
BM25_FP = 1_000_000_000

#: Posting-list cap per term (first CAP doc_ids by doc_id order) —
#: the bound that keeps a web-scale stopword's posting row small.
POSTINGS_CAP = 15

#: One scoring expression template shared verbatim by the Spark plan
#: and the DuckDB oracle, so the double expression tree cannot drift.
#: Every fractional literal is CAST(... AS DOUBLE) explicitly: a bare
#: ``0.5`` parses as DECIMAL in both engines and its promotion rules
#: differ between them; with the casts, every operation below is
#: IEEE-double with identical association order in both engines.
_SCORE_TEMPLATE = (
    "CAST(floor("
    "((CAST({n_docs} AS DOUBLE) - {df} + CAST(0.5 AS DOUBLE))"
    " / ({df} + CAST(0.5 AS DOUBLE)))"
    " * ({tf} * CAST({k1p1} AS DOUBLE))"
    " / ({tf} + CAST({k1} AS DOUBLE) * (CAST({omb} AS DOUBLE)"
    "   + CAST({b} AS DOUBLE) * {dl} / (CAST({sum_dl} AS DOUBLE) / {n_docs})))"
    " * CAST({fp} AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def _score_expr(n_docs: str, df: str, tf: str, dl: str, sum_dl: str) -> str:
    return _SCORE_TEMPLATE.format(
        n_docs=n_docs,
        df=df,
        tf=tf,
        dl=dl,
        sum_dl=sum_dl,
        k1=BM25_K1,
        k1p1=BM25_K1 + 1.0,
        omb=1.0 - BM25_B,
        b=BM25_B,
        fp=BM25_FP,
    )


def bm25_search(
    spark: SparkSession,
    sf_dir: str,
    *,
    terms: tuple[str, ...] = QUERY_TERMS,
    topk: int = BM25_TOPK,
) -> DataFrame:
    """BM25 top-K documents for ``terms`` (default QUERY_TERMS —
    the oracle-pinned demo constants; the /analytics service passes
    per-request overrides through the validated ``params`` surface,
    service/params.py).

    Plan (all shuffles move aggregated rows):

    1. map-side: tokenize, keep only query-term hits (`array_contains`
       filter applied before any exchange), per-doc dl alongside;
    2. tf per (doc, term) — partial agg before its shuffle;
    3. df per term — aggregate of the tf relation (3 rows out);
    4. corpus stats (N, avgdl) — single-row broadcast;
    5. score = Σ_t fp_round(idf_t · tf(k1+1)/(tf + k1(1-b+b·dl/avgdl)))
       with the rational idf (N-df+.5)/(df+.5); fixed-point BIGINT
       per-term rounding makes the SUM order-invariant;
    6. global top-K by (score_fp DESC, doc_id) — TakeOrderedAndProject,
       no full sort.

    At 100 TB the df side is |query| rows (broadcast), the stats side
    1 row (broadcast); the only real shuffle carries one row per
    (matching doc, query term).
    """
    toks = _docs_with_tokens(spark, sf_dir).select(
        "doc_id", "toks", F.size("toks").alias("dl")
    )
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    hits = (
        toks.select(
            "doc_id",
            "dl",
            F.explode(
                F.filter("toks", lambda t: t.isin(*terms))
            ).alias("term"),
        )
    )
    tf = hits.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib_fp",
            F.expr(_score_expr("n_docs", "df", "tf", "dl", "sum_dl")),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.sum("contrib_fp").alias("score_fp"),
        )
        .withColumn(
            "score", F.col("score_fp").cast("double") / F.lit(float(BM25_FP))
        )
        .orderBy(F.desc("score_fp"), "doc_id")
        .limit(topk)
    )


_QUERY_TERMS_SQL = ", ".join(f"'{t}'" for t in QUERY_TERMS)

BM25_SEARCH_SQL = f"""
{_SQL_PREP}, d AS (
  SELECT doc_id, toks, len(toks) AS dl FROM t
), stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM d
), hits AS (
  SELECT doc_id, dl, unnest(list_filter(toks, x -> x IN ({_QUERY_TERMS_SQL}))) AS term
  FROM d
), tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf FROM hits GROUP BY doc_id, dl, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id,
         {_score_expr("stats.n_docs", "df.df", "tf.tf", "tf.dl", "stats.sum_dl")} AS contrib_fp
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats
)
SELECT doc_id,
       COUNT(*) AS n_terms_matched,
       CAST(SUM(contrib_fp) AS BIGINT) AS score_fp,
       CAST(SUM(contrib_fp) AS DOUBLE) / {BM25_FP} AS score
FROM scored
GROUP BY doc_id
ORDER BY score_fp DESC, doc_id
LIMIT {BM25_TOPK}
"""


def inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index: per term, document frequency, total
    occurrences, and the first POSTINGS_CAP doc_ids (sorted,
    comma-joined to one scalar string so the output schema carries
    no array columns) — the
    build side of any keyword retrieval system.

    Plan: explode → (doc, term) partial agg → per-term rank window →
    per-term agg collecting ONLY rows ranked ≤ POSTINGS_CAP
    (collect_list skips the NULLs the rank filter leaves). The rank
    is ordered by doc_id, so the capped set IS the smallest-CAP
    doc_ids — identical to sorting the full list then slicing, but
    the per-group collected state is BOUNDED by the cap: the
    sort-then-slice form accumulates a stopword's entire posting
    list in one aggregation buffer before truncating it, which is an
    executor OOM at web scale, and was also the r5 bench regression
    (sorting full lists per term). At true web scale the posting
    list becomes a bucketed table keyed by term (one row per (term,
    doc block)); the cap marks exactly where that split happens.

    Note collect_list is ORDER-NONDETERMINISTIC across partitions;
    correctness comes from sort_array over the ≤CAP collected
    elements — both engines sort the same capped SET, so the result
    is deterministic.
    """
    toks = _docs_with_tokens(spark, sf_dir)
    tf = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    ranked = tf.withColumn(
        "rn",
        F.expr("row_number() OVER (PARTITION BY term ORDER BY doc_id)"),
    )
    return (
        ranked.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("cf"),
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("rn") <= POSTINGS_CAP, F.col("doc_id"))
                    )
                ),
                ",",
            ).alias("postings"),
        )
        .orderBy("term")
    )


INVERTED_POSTINGS_SQL = f"""
{_SQL_PREP}, terms AS (
  SELECT doc_id, unnest(toks) AS term FROM t
), tf AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM terms GROUP BY term, doc_id
), ranked AS (
  SELECT term, doc_id, tf,
         row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
  FROM tf
)
SELECT term,
       COUNT(*) AS df,
       CAST(SUM(tf) AS BIGINT) AS cf,
       array_to_string(
         list_sort(list(doc_id) FILTER (WHERE rn <= {POSTINGS_CAP})), ',')
         AS postings
FROM ranked
GROUP BY term
ORDER BY term
"""


#: Reciprocal-rank-fusion constant (the k=60 from Cormack et al.'s
#: RRF paper, the default every hybrid-search engine ships).
RRF_K = 60

#: Fused results returned / per-list depth.
RRF_TOPK = 20

#: Per-doc fusion score: at most one term per list, so there is NO
#: cross-row float summation — each COALESCE term is a fixed-shape
#: double expression, identical tree in both engines.
_RRF_TEMPLATE = (
    "COALESCE(CAST(1 AS DOUBLE) / (CAST({k} AS DOUBLE) + r_lex),"
    " CAST(0 AS DOUBLE))"
    " + COALESCE(CAST(1 AS DOUBLE) / (CAST({k} AS DOUBLE) + r_sem),"
    " CAST(0 AS DOUBLE))"
)


def rank_fusion(
    spark: SparkSession,
    sf_dir: str,
    *,
    k: int = RRF_K,
    topk: int = RRF_TOPK,
) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the BM25 lexical
    top-20 (QUERY_TERMS) fused with the embedding-cosine semantic
    top-20 (query vector = vec_id 0; doc_id ≡ vec_id in the fixture
    contract) by RRF(d) = Σ_lists 1/(k + rank_list(d)).

    The production RAG/training-retrieval shape: lexical and vector
    retrieval each produce a SMALL ranked list (top-k heaps, no full
    sort), and fusion is a full-outer join of two ≤k-row relations —
    driver-trivial at any corpus scale because everything after the
    two retrievals is bounded by k, not the corpus. The ranks are
    assigned by a window over an already-top-k relation, so the
    single-partition window touches ≤k rows.
    """
    from ensembl_lakehouse_spark.operators.similarity import (
        _PAIR_COSINE,
        _split,
    )

    lex = (
        bm25_search(spark, sf_dir, topk=topk)  # both lists share depth
        .select(
            "doc_id",
            F.expr(
                "CAST(row_number() OVER "
                "(ORDER BY score_fp DESC, doc_id ASC) AS BIGINT)"
            ).alias("r_lex"),
        )
    )
    queries, corpus = _split(spark, sf_dir)
    q0 = queries.where(F.col("q_id") == 0)
    sem = (
        corpus.crossJoin(F.broadcast(q0))
        .withColumn("cosine", F.expr(_PAIR_COSINE))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(topk)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.expr(
                "CAST(row_number() OVER "
                "(ORDER BY cosine DESC, vec_id ASC) AS BIGINT)"
            ).alias("r_sem"),
        )
    )
    return (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            "r_lex",
            "r_sem",
            F.expr(_RRF_TEMPLATE.format(k=k)).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(topk)
    )


def _rank_fusion_sql() -> str:
    from ensembl_lakehouse_spark.functions.vectors import sql_cosine
    from ensembl_lakehouse_spark.operators.similarity import N_QUERIES

    return f"""
WITH lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score_fp DESC, doc_id ASC) AS BIGINT) AS r_lex
  FROM ({BM25_SEARCH_SQL})
), sem AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS r_sem
  FROM (
    SELECT c.vec_id, {sql_cosine("q.embedding", "c.embedding")} AS cosine
    FROM embeddings c
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE c.vec_id >= {N_QUERIES}
    ORDER BY cosine DESC, c.vec_id
    LIMIT {RRF_TOPK}
  )
)
SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, r_lex, r_sem,
       {_RRF_TEMPLATE.format(k=RRF_K)} AS rrf
FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id
ORDER BY rrf DESC, COALESCE(lex.doc_id, sem.doc_id)
LIMIT {RRF_TOPK}
"""


RANK_FUSION_SQL = _rank_fusion_sql()


#: MMR trade-off: λ·relevance − (1−λ)·max-similarity-to-selected.
MMR_LAMBDA = 0.7
#: Results diversified / candidate pool depth.
MMR_SELECT = 5
MMR_POOL = 20

_MMR_SCORE_TEMPLATE = (
    "CAST({lam} AS DOUBLE) * {rel} - CAST({one_minus_lam} AS DOUBLE) * {msim}"
)


def _candidate_pool(spark: SparkSession, sf_dir: str, pool: int) -> DataFrame:
    """The semantic top-``pool`` candidates for query vector 0, lazy:
    ``(doc_id, rel, embedding, c_nrm)``, one corpus scan into a
    bounded TakeOrdered heap (rel DESC, doc_id ASC)."""
    from ensembl_lakehouse_spark.operators.similarity import (
        _PAIR_COSINE,
        _split,
    )

    queries, corpus = _split(spark, sf_dir)
    q0 = queries.where(F.col("q_id") == 0)
    return (
        corpus.crossJoin(F.broadcast(q0))
        .withColumn("rel", F.expr(_PAIR_COSINE))
        .orderBy(F.desc("rel"), "vec_id")
        .limit(pool)
        .select(
            F.col("vec_id").alias("doc_id"), "rel", "embedding", "c_nrm"
        )
    )


def _argmax(arr: str, key: str) -> str:
    """The element ``c`` of the struct array ``arr`` with the largest
    ``key`` (Spark SQL text over lambda variable ``c``), ties to the
    smallest ``doc_id``: ``array_max`` over ``(key, -doc_id, c)``
    structs, so NaN ranks largest as in an ORDER BY ... DESC."""
    return (
        f"array_max(transform({arr}, c -> "
        f"named_struct('key', {key}, 'neg_id', -c.doc_id, 'c', c))).c"
    )


def mmr_rerank(
    spark: SparkSession,
    sf_dir: str,
    *,
    select_k: int = MMR_SELECT,
    pool: int = MMR_POOL,
) -> DataFrame:
    """Maximal Marginal Relevance rerank: greedily select MMR_SELECT
    diverse results from the semantic top-MMR_POOL (query vector 0),
    step k maximizing λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s) —
    the diversity-aware second stage RAG retrieval runs so the k
    passages handed to the model aren't five near-copies.

    Scale shape: MMR always runs on the retrieved PAGE, never the
    corpus. The corpus-scale part stays distributed: one scan into a
    bounded TakeOrdered pool (``_candidate_pool``). The greedy state
    is bounded by ``pool`` (≤ 200 rows, service/params.py) at any
    corpus size, so the pool is collected into ONE row
    (``collect_list``) and the whole selection runs as one
    ``aggregate`` expression over it: ``select_k − 1`` steps, each
    the argmax of the unselected candidates' MMR score. The plan is
    lazy and the same size for every ``select_k``; nothing runs until
    the result is.

    Ties and float determinism: each pairwise cosine is the shared
    ``_dot_expr`` over the candidate's and the selected vector's
    arrays, divided by their precomputed norms; argmax breaks ties by
    doc_id, and the max-over-selected is an order-independent MAX —
    bit-stable across engines. A pool smaller than ``select_k``
    returns every pool row.
    """
    from ensembl_lakehouse_spark.operators.similarity import _dot_expr

    cosine = f"{_dot_expr('c.embedding', 's.embedding')} / (c.c_nrm * s.c_nrm)"
    score = _MMR_SCORE_TEMPLATE.format(
        lam=MMR_LAMBDA,
        one_minus_lam=1.0 - MMR_LAMBDA,
        rel="c.rel",
        msim=f"array_max(transform(sel, s -> {cosine}))",
    )
    unselected = (
        "filter(cands, c -> "
        "NOT array_contains(transform(sel, s -> s.doc_id), c.doc_id))"
    )
    # the slice keeps an empty pool empty; the size guard stops
    # selecting once every candidate is taken (pool < select_k)
    greedy = (
        f"aggregate(array_repeat(0, {select_k - 1}), "
        f"slice(array({_argmax('cands', 'c.rel')}), 1, size(cands)), "
        "(sel, _step) -> IF(size(sel) >= size(cands), sel, "
        f"concat(sel, array({_argmax(unselected, score)}))))"
    )
    return (
        _candidate_pool(spark, sf_dir, pool)
        .agg(
            F.collect_list(
                F.struct("doc_id", "rel", "embedding", "c_nrm")
            ).alias("cands")
        )
        .select(
            F.expr(
                f"inline(transform({greedy}, (s, i) -> named_struct("
                "'doc_id', s.doc_id, 'sel_order', i + 1, 'rel', s.rel)))"
            )
        )
        .orderBy("sel_order")
    )


def _mmr_rerank_sql() -> str:
    from ensembl_lakehouse_spark.functions.vectors import sql_cosine
    from ensembl_lakehouse_spark.operators.similarity import N_QUERIES

    score = _MMR_SCORE_TEMPLATE.format(
        lam=MMR_LAMBDA, one_minus_lam=1.0 - MMR_LAMBDA, rel="rel", msim="msim"
    )
    parts = [
        "WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),",
        f"""cand AS (
  SELECT c.vec_id AS doc_id, {sql_cosine("q.embedding", "c.embedding")} AS rel,
         c.embedding
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id >= {N_QUERIES}
  ORDER BY rel DESC, c.vec_id LIMIT {MMR_POOL}
),""",
        f"""pair AS (
  SELECT x.doc_id AS a, y.doc_id AS b,
         {sql_cosine("x.embedding", "y.embedding")} AS sim
  FROM cand x JOIN cand y ON x.doc_id <> y.doc_id
),""",
        "sel1 AS (SELECT doc_id, 1 AS sel_order, rel FROM cand"
        " ORDER BY rel DESC, doc_id LIMIT 1),",
    ]
    prev = "sel1"
    for step in range(2, MMR_SELECT + 1):
        parts.append(
            f"""t{step} AS (
  SELECT c.doc_id, c.rel, MAX(p.sim) AS msim
  FROM cand c
  JOIN pair p ON p.a = c.doc_id
  JOIN {prev} s ON p.b = s.doc_id
  WHERE c.doc_id NOT IN (SELECT doc_id FROM {prev})
  GROUP BY c.doc_id, c.rel
),
s{step} AS (SELECT doc_id, {step} AS sel_order, rel FROM t{step}
  ORDER BY {score} DESC, doc_id LIMIT 1),
sel{step} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM s{step}),"""
        )
        prev = f"sel{step}"
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT doc_id, sel_order, rel FROM {prev} ORDER BY sel_order")
    return "\n".join(parts)


MMR_RERANK_SQL = _mmr_rerank_sql()


# ---------------------------------------------------------------------------
# rerank_pairwise_audit (r10)
# ---------------------------------------------------------------------------


def rerank_pairwise_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-encoder-style rerank audit over the bounded retrieval
    pool: the first-stage ranking is cosine relevance to query 0;
    the second-stage scorer is the deterministic length-penalized
    stand-in ``rel − 0.1·|norm − 1|`` (a real cross-encoder slots in
    behind the same contract — any per-(query, doc) scalar). Per
    pool doc: both ranks and the shift, the drop-a-reranker-in
    regression surface (how much does stage 2 reorder stage 1, and
    WHICH docs move).

    Ranks are computed by bounded pairwise counting (rank = 1 +
    better-scored docs, ties by doc_id) — ≤ pool² comparisons with
    NO global window, so the plan-discipline rule (no unpartitioned
    row_number anywhere) holds even though a pool-sized window would
    be configuration-bounded.

    Scale shape: one corpus scan into the TakeOrdered pool of
    MMR_POOL rows (``_candidate_pool``), checkpointed because the
    pairwise join reads it twice; everything after runs on ≤ pool²
    rows."""
    cand = (
        _candidate_pool(spark, sf_dir, MMR_POOL)
        .select(
            "doc_id",
            "rel",
            F.expr(
                "rel - CAST(0.1 AS DOUBLE) * abs(c_nrm - "
                "CAST(1.0 AS DOUBLE))"
            ).alias("ce_score"),
        )
        .localCheckpoint()  # bounded: <= pool rows
    )
    other = cand.select(
        F.col("doc_id").alias("o_id"),
        F.col("rel").alias("o_rel"),
        F.col("ce_score").alias("o_ce"),
    )
    ranked = (
        cand.join(F.broadcast(other), F.col("doc_id") != F.col("o_id"))
        .groupBy("doc_id", "rel", "ce_score")
        .agg(
            F.sum(
                F.when(
                    (F.col("o_rel") > F.col("rel"))
                    | (
                        (F.col("o_rel") == F.col("rel"))
                        & (F.col("o_id") < F.col("doc_id"))
                    ),
                    1,
                ).otherwise(0)
            ).alias("better_rel"),
            F.sum(
                F.when(
                    (F.col("o_ce") > F.col("ce_score"))
                    | (
                        (F.col("o_ce") == F.col("ce_score"))
                        & (F.col("o_id") < F.col("doc_id"))
                    ),
                    1,
                ).otherwise(0)
            ).alias("better_ce"),
        )
    )
    return (
        ranked.select(
            "doc_id",
            (F.col("better_rel") + 1).cast("int").alias("retrieval_rank"),
            (F.col("better_ce") + 1).cast("int").alias("rerank_rank"),
            (F.col("better_rel") - F.col("better_ce"))
            .cast("int")
            .alias("rank_gain"),
        )
        .orderBy("retrieval_rank")
    )


def _rerank_pairwise_audit_sql() -> str:
    from ensembl_lakehouse_spark.functions.vectors import (
        sql_cosine,
        sql_norm,
    )
    from ensembl_lakehouse_spark.operators.similarity import N_QUERIES

    cos = sql_cosine("q.q_vec", "c.embedding")
    nrm = sql_norm("c.embedding")
    return f"""
WITH q AS (
  SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0
), c AS (
  SELECT * FROM embeddings WHERE vec_id >= {N_QUERIES}
), pool AS (
  SELECT c.vec_id AS doc_id,
         {cos} AS rel,
         {cos} - 0.1 * abs({nrm} - 1.0) AS ce_score
  FROM c CROSS JOIN q
  ORDER BY rel DESC, doc_id ASC
  LIMIT {MMR_POOL}
), ranked AS (
  SELECT a.doc_id,
         1 + SUM(CASE WHEN b.rel > a.rel
                       OR (b.rel = a.rel AND b.doc_id < a.doc_id)
                 THEN 1 ELSE 0 END) AS retrieval_rank,
         1 + SUM(CASE WHEN b.ce_score > a.ce_score
                       OR (b.ce_score = a.ce_score
                           AND b.doc_id < a.doc_id)
                 THEN 1 ELSE 0 END) AS rerank_rank
  FROM pool a JOIN pool b ON a.doc_id <> b.doc_id
  GROUP BY a.doc_id
)
SELECT doc_id,
       CAST(retrieval_rank AS INTEGER) AS retrieval_rank,
       CAST(rerank_rank AS INTEGER) AS rerank_rank,
       CAST(retrieval_rank - rerank_rank AS INTEGER) AS rank_gain
FROM ranked
ORDER BY retrieval_rank
"""


RERANK_PAIRWISE_AUDIT_SQL = _rerank_pairwise_audit_sql()
