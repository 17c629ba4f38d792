"""Resumable backfill: crash mid-run, resume completes only the
remaining chunks, final table equals the single-pass computation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ensembl_lakehouse_spark import backfill as B
from ensembl_lakehouse_spark import snapshots as SN
from ensembl_lakehouse_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def _score(df):
    return df.select(
        "doc_id", F.length("text").alias("n_chars_score")
    )


def test_backfill_resumes_after_crash(spark, tmp_path):
    tdir = str(tmp_path / "scored")
    docs = load_table(spark, SF_DIR, "documents").where(
        "length(trim(text)) > 0"
    )
    n_chunks = 4

    # crash injection: chunk 2 fails on the first run
    calls = {"n": 0}

    def flaky(df):
        calls["n"] += 1
        if calls["n"] == 3:  # third processed chunk = index 2
            raise RuntimeError("injected crash")
        return _score(df)

    with pytest.raises(RuntimeError):
        B.run_backfill(spark, docs, tdir, flaky, key_col="doc_id", n_chunks=n_chunks)
    # chunks 0 and 1 are durable
    assert B.completed_chunks(tdir, n_chunks) == {0, 1}
    partial = SN.read_snapshot(spark, tdir).count()
    assert 0 < partial < docs.count()

    # resume with the real op: only the remaining chunks run
    out = B.run_backfill(spark, docs, tdir, _score, key_col="doc_id", n_chunks=n_chunks)
    assert out["skipped"] == [0, 1]
    assert out["processed"] == [2, 3]

    got = {
        (r.doc_id, r.n_chars_score)
        for r in SN.read_snapshot(spark, tdir).collect()
    }
    want = {(r.doc_id, r.n_chars_score) for r in _score(docs).collect()}
    assert got == want

    # idempotence: a third run skips everything
    again = B.run_backfill(spark, docs, tdir, _score, key_col="doc_id", n_chunks=n_chunks)
    assert again == {"processed": [], "skipped": [0, 1, 2, 3]}


def test_chunks_partition_the_key_space(spark):
    docs = load_table(spark, SF_DIR, "documents").where(
        "length(trim(text)) > 0"
    )
    total = docs.count()
    sizes = [
        docs.where(B._chunk_predicate("doc_id", i, 4)).count() for i in range(4)
    ]
    assert sum(sizes) == total
    assert all(s > 0 for s in sizes)  # md5 spreads the fixture ids


@pytest.mark.parametrize(
    "schema, keys",
    [
        ("k bigint", list(range(-20, 400, 13))),
        ("k string", ["", "a", "doc-17", "ENSG00000139618", "ünïcødé", "日本語"]),
    ],
)
def test_chunk_ids_match_duckdb_md5_long31(spark, schema, keys):
    """Chunk membership is the functions/hashing md5 contract: every
    key of a fixed set lands in the chunk that DuckDB's
    ``sql_md5_long31(CAST(k AS VARCHAR)) % n`` names, for two chunk
    counts, so chunk ids cannot drift from the shared hash."""
    import duckdb

    from ensembl_lakehouse_spark.functions.hashing import sql_md5_long31

    df = spark.createDataFrame([(k,) for k in keys], schema)
    for n in (4, 7):
        chunk = F.coalesce(
            *[F.when(B._chunk_predicate("k", i, n), F.lit(i)) for i in range(n)]
        )
        got = {r.k: r.c for r in df.select("k", chunk.alias("c")).collect()}
        want = dict(
            duckdb.execute(
                f"SELECT k, {sql_md5_long31('CAST(k AS VARCHAR)')} % {n} "
                "FROM (SELECT unnest(?) AS k)",
                [keys],
            ).fetchall()
        )
        assert got == want
        assert len(set(want.values())) > 1


def test_completed_chunks_survive_vacuum(spark, tmp_path):
    """Advice repro: vacuum used to truncate the stamp window, making
    a resume reprocess finished chunks. Stamps now live in the
    retention-independent _txns log."""
    tdir = str(tmp_path / "scored_v")
    docs = load_table(spark, SF_DIR, "documents").where(
        "length(trim(text)) > 0"
    )
    B.run_backfill(spark, docs, tdir, _score, key_col="doc_id", n_chunks=4)
    SN.vacuum(tdir, keep_versions=1)
    assert B.completed_chunks(tdir, 4) == {0, 1, 2, 3}
    out = B.run_backfill(spark, docs, tdir, _score, key_col="doc_id", n_chunks=4)
    assert out == {"processed": [], "skipped": [0, 1, 2, 3]}
