"""The committed-state read of a serve (layout._committed_state with
the meta table and the query terms) must return exactly what three
separate reads return — bucket modulus, committed high-water mark,
and term bucket ids — on every store state a serve can meet: fresh
batch-built, revised (ledger advanced), and the frequency store's
totals-derived high-water mark. A store without its commit table
raises the shared missing-commit error. The bucket ids additionally
pin the driver-side pmod: Python's ``h % n`` on the collected raw
xxhash64 values must equal the writer's Catalyst
pmod(xxhash64(tok), n) for negative hashes too."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from se_data_pipeline_spark.sources import layout as L

TERMS = ["the", "quality", "pipeline", "zz-unseen-term"]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the data pipeline checks quality"),
            (2, "quality gates guard the pipeline"),
            (3, "a third document about nothing"),
        ],
        "doc_id bigint, text string",
    )


def _serve_state(spark, store, terms, totals=None):
    st = L._committed_state(spark, store, ("meta",), terms, totals=totals)
    return st["n_buckets"], st["hw"], st["buckets"]


def _old_triple(spark, store, terms):
    nb = spark.read.parquet(f"{store}/meta").collect()[0]["n_buckets"]
    marks = os.listdir(f"{store}/batches")
    hw = max(int(d.split("=", 1)[1]) for d in marks) + 1
    return nb, hw, L._term_buckets(spark, sorted(set(terms)), nb)


def test_fused_equals_triple_positional(spark, docs, tmp_path):
    store = str(tmp_path / "pos_store")
    L.write_positional_postings(docs, store)
    assert _serve_state(spark, store, TERMS) == _old_triple(
        spark, store, TERMS
    )
    # after a revision the ledger high-water mark moves — the fused
    # read must see the new commit point, not a cached one
    L.revise_positional_postings(
        spark, docs.filter(F.col("doc_id") == 2), store
    )
    got = _serve_state(spark, store, TERMS)
    assert got == _old_triple(spark, store, TERMS)
    # the batch build writes at batch_id=-1; the revision claims 0,
    # so the committed high-water mark is 1
    assert got[1] == 1


def test_fused_equals_triple_frequency(spark, docs, tmp_path):
    store = str(tmp_path / "freq_store")
    L.write_posting_lists(docs, store)
    assert _serve_state(spark, store, TERMS, "totals") == _old_triple(
        spark, store, TERMS
    )


def _files(root: str) -> list:
    return sorted(
        (
            os.path.relpath(os.path.join(d, f), root),
            os.stat(os.path.join(d, f)).st_mtime_ns,
        )
        for d, _, fs in os.walk(root)
        for f in fs
    )


def test_fused_store_without_ledger_raises(spark, docs, tmp_path):
    # a positional store without its batches ledger never committed:
    # the prologue, the serve, a revision and a compaction all raise
    # the shared missing-commit error and leave the store untouched
    store = str(tmp_path / "ledgerless_store")
    L.write_positional_postings(docs, store)
    shutil.rmtree(f"{store}/batches")
    before = _files(store)
    calls = [
        lambda: _serve_state(spark, store, TERMS),
        lambda: L.phrase_from_postings(spark, store, ("the", "pipeline")),
        lambda: L.revise_positional_postings(
            spark, docs.filter(F.col("doc_id") == 2), store
        ),
        lambda: L.compact_positional_postings(spark, store),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="no 'batches' commit table"):
            call()
    assert _files(store) == before


def test_fused_missing_meta_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no meta table"):
        _serve_state(spark, str(tmp_path / "absent"), TERMS)


def test_driver_pmod_matches_catalyst_on_negative_hashes(spark):
    # find tokens whose xxhash64 is negative and assert the Python %
    # equals Catalyst pmod for them (the committed-state read's
    # driver-side bucket computation)
    toks = [f"tok{i}" for i in range(64)]
    rows = (
        spark.range(1)
        .select(
            F.explode(F.array(*[F.lit(t) for t in toks])).alias("tok")
        )
        .select(
            "tok",
            F.xxhash64("tok").alias("h"),
            L._tok_bucket_col(4096).alias("b"),
        )
        .collect()
    )
    assert any(r["h"] < 0 for r in rows)  # the case that matters
    for r in rows:
        assert int(r["h"]) % 4096 == int(r["b"])
