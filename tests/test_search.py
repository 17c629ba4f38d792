"""Unit tests: operators/search (BM25 ranked retrieval + inverted
index). The oracle differential is the deep gate; these pin the
retrieval invariants fast at sf0.001."""

from __future__ import annotations

import pytest

from ensembl_lakehouse_spark.operators import search as SR
from ensembl_lakehouse_spark.operators import text as T
from tests.conftest import SF_DIR


def test_bm25_topk_ranked_and_bounded(spark):
    rows = SR.bm25_search(spark, SF_DIR).collect()
    assert 0 < len(rows) <= SR.BM25_TOPK
    scores = [r.score_fp for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert 1 <= r.n_terms_matched <= len(SR.QUERY_TERMS)
        assert r.score_fp > 0
        assert abs(r.score - r.score_fp / SR.BM25_FP) < 1e-12


def test_bm25_hits_actually_contain_a_query_term(spark):
    hits = {r.doc_id for r in SR.bm25_search(spark, SF_DIR).collect()}
    docs = {
        r.doc_id
        for r in T._docs_with_tokens(spark, SF_DIR)
        .select("doc_id", "toks")
        .collect()
        if set(r.toks) & set(SR.QUERY_TERMS)
    }
    assert hits <= docs


def test_inverted_postings_sorted_capped_consistent(spark):
    rows = SR.inverted_postings(spark, SF_DIR).collect()
    assert rows
    terms = [r.term for r in rows]
    assert terms == sorted(terms)
    for r in rows:
        # postings is a comma-joined scalar string (driver-hashable,
        # the r4 red-row fix); split to check order + cap semantics.
        plist = r.postings.split(",")
        # doc_ids are numeric; both engines sort BEFORE joining, so
        # the token order is numeric, not lexicographic.
        assert [int(x) for x in plist] == sorted(int(x) for x in plist)
        assert len(plist) == min(r.df, SR.POSTINGS_CAP)
        assert r.cf >= r.df >= 1


def test_rank_fusion_blends_both_lists(spark):
    """RRF sanity: every fused row's score equals the recomputed
    1/(k+r) sum; docs appearing in BOTH lists outrank equal-rank
    single-list docs; output bounded by RRF_TOPK."""
    rows = SR.rank_fusion(spark, SF_DIR).collect()
    assert 0 < len(rows) <= SR.RRF_TOPK
    for r in rows:
        want = 0.0
        if r.r_lex is not None:
            want += 1.0 / (SR.RRF_K + r.r_lex)
        if r.r_sem is not None:
            want += 1.0 / (SR.RRF_K + r.r_sem)
        assert abs(r.rrf - want) < 1e-15
        assert r.r_lex is not None or r.r_sem is not None
    # ordered by fused score descending
    scores = [r.rrf for r in rows]
    assert scores == sorted(scores, reverse=True)


@pytest.fixture(scope="module")
def tie_dir(tmp_path_factory):
    """A tiny ``embeddings.parquet`` built so that MMR ties: small
    integer vectors (every dot and norm is exact), query 0 is all
    ones, so permutations of one vector share ``rel``, exact
    duplicates share every ``sim``, and only ``doc_id`` orders them."""
    import itertools

    import pyarrow as pa
    import pyarrow.parquet as pq

    vecs = [[1, 1, 1, 1], [1, 0, 0, 0], [0, 1, 0, 0], [0, 0, 1, 0], [0, 0, 0, 1]]
    vecs += [list(p) for p in sorted(set(itertools.permutations([3, 1, 0, 0])))]
    vecs += [[2, 2, 1, 0]] * 3 + [[1, 2, 2, 0]] * 2 + [[0, 0, 0, 5]] * 2
    d = tmp_path_factory.mktemp("mmr_ties")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([0] * len(vecs), pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    return str(d)


@pytest.mark.parametrize("data", ["sf", "ties"])
@pytest.mark.parametrize(
    "select_k,pool", [(5, 20), (6, 24), (4, 16), (1, 20), (20, 2), (20, 200)]
)
def test_mmr_rerank_matches_python_greedy(spark, tie_dir, data, select_k, pool):
    """MMR pinned against a driver-side greedy recompute over the
    same candidate pool and pairwise cosines, including a pool
    smaller than ``select_k`` and data whose ``rel`` and ``sim``
    values tie exactly."""
    sf_dir = SF_DIR if data == "sf" else tie_dir
    got = SR.mmr_rerank(spark, sf_dir, select_k=select_k, pool=pool).collect()
    out = [(r.doc_id, r.sel_order, r.rel) for r in got]
    cand = SR._candidate_pool(spark, sf_dir, pool).collect()
    assert [o for _, o, _ in out] == list(range(1, min(select_k, len(cand)) + 1))

    import functools
    import math

    def cos(a, b):
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(y) * float(y) for y in b))
        return dot / (na * nb)

    pool_rows = {r.doc_id: (r.rel, r.embedding) for r in cand}
    sim = functools.lru_cache(maxsize=None)(
        lambda d, s: cos(pool_rows[d][1], pool_rows[s][1])
    )
    selected = [min(pool_rows, key=lambda d: (-pool_rows[d][0], d))]
    lam = SR.MMR_LAMBDA
    while len(selected) < min(select_k, len(pool_rows)):
        best = None
        for d in pool_rows:
            if d in selected:
                continue
            msim = max(sim(d, s) for s in selected)
            sc = lam * pool_rows[d][0] - (1 - lam) * msim
            key = (-sc, d)
            if best is None or key < best[0]:
                best = (key, d)
        selected.append(best[1])
    assert [d for d, _, _ in out] == selected
    assert [r for _, _, r in out] == [pool_rows[d][0] for d in selected]
    if data == "ties" and len(pool_rows) > 1:
        # the ties are real: several pool docs share a rel value
        rels = [rel for rel, _ in pool_rows.values()]
        assert len(set(rels)) < len(rels)


def test_rank_fusion_topk_deepens_both_lists(spark):
    """Review regression: topk must widen the LEXICAL list too, not
    only the semantic one — otherwise deep fused pages are silently
    semantic-only past rank BM25_TOPK. Pinned by recomputing the
    expected fusion from the two depth-30 lists."""
    from pyspark.sql import functions as F

    from ensembl_lakehouse_spark.operators.similarity import _PAIR_COSINE, _split

    depth = 30
    lex = SR.bm25_search(spark, SF_DIR, topk=depth).collect()
    assert len(lex) == depth  # bm25 actually deepened
    lex_rank = {
        r.doc_id: i + 1
        for i, r in enumerate(
            sorted(lex, key=lambda r: (-r.score_fp, r.doc_id))
        )
    }
    queries, corpus = _split(spark, SF_DIR)
    sem = (
        corpus.crossJoin(F.broadcast(queries.where("q_id = 0")))
        .withColumn("cosine", F.expr(_PAIR_COSINE))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(depth)
        .collect()
    )
    sem_rank = {r.vec_id: i + 1 for i, r in enumerate(sem)}
    want = {}
    for d in set(lex_rank) | set(sem_rank):
        score = 0.0
        if d in lex_rank:
            score += 1.0 / (SR.RRF_K + lex_rank[d])
        if d in sem_rank:
            score += 1.0 / (SR.RRF_K + sem_rank[d])
        want[d] = score
    top = sorted(want, key=lambda d: (-want[d], d))[:depth]
    got = SR.rank_fusion(spark, SF_DIR, topk=depth).collect()
    assert [r.doc_id for r in got] == top
    for r in got:
        assert abs(r.rrf - want[r.doc_id]) < 1e-15
