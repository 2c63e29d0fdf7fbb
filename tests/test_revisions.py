"""Tombstone/upsert semantics for the incremental stores (r9 VERDICT
missing #2 / next-round #3): the reference's own workflow re-probes
and re-ingests channels (its ledger at data_pipeline.py:559-577
exists precisely because reruns happen), so a re-crawled CHANGED
document must replace its previous version EXACTLY ONCE in every
materialized store — postings/df/avgdl, term stats, IVF cell
assignment — both before and after compaction, for batch and
streaming writers alike.

The proof pattern throughout: build a store from a PERTURBED v1
corpus, revise the perturbed docs back to their true text, and
assert the store now serves bit-identically to a store (or inline
query) built directly from the true corpus — if any old row
survived or any correction were off, scores/stats would differ.
"""

from __future__ import annotations

import glob
import os
import time as _time

import pytest
from pyspark.sql import functions as F

from se_data_pipeline_spark.catalog import load_table


def _perturbed(docs, mod: int = 3):
    """v1 corpus: docs with doc_id % mod == 0 carry extra junk tokens
    (changing dl, tf, and introducing a token that exists ONLY in
    v1 — its later disappearance proves df corrections)."""
    return docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % mod == 0,
            F.concat(F.col("text"), F.lit(" zzv1junk zzv1junk")),
        ).otherwise(F.col("text")),
    )


def test_revise_posting_lists_replaces_exactly_once(
    spark, sf_dir, tmp_path
):
    """Build from perturbed v1, revise the changed docs to v2 (their
    true text): BM25 serving must equal the inline query over the
    true corpus — tf, dl, df, n_docs, and avgdl all corrected — both
    pre- and post-compaction, and the perturbation-only token must
    be gone from the pruned lookup."""
    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.queries.text import doc_bm25_search
    from se_data_pipeline_spark.sources.layout import (
        bm25_from_postings,
        compact_posting_lists,
        revise_posting_lists,
        write_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "store")
    write_posting_lists(_perturbed(docs), out, n_buckets=32)

    # sanity: v1 store does NOT serve the true-corpus result
    inline = [
        (r["doc_id"], r["bm25"])
        for r in doc_bm25_search(spark, sf_dir).collect()
    ]
    v1 = [
        (r["doc_id"], r["bm25"])
        for r in bm25_from_postings(spark, out, SEARCH_TERMS).collect()
    ]
    assert v1 != inline, "perturbation must be score-visible"

    b = revise_posting_lists(
        spark, docs.filter("doc_id % 3 = 0"), out
    )
    assert b >= 0
    served = [
        (r["doc_id"], r["bm25"])
        for r in bm25_from_postings(spark, out, SEARCH_TERMS).collect()
    ]
    assert served == inline, "v2 must serve exactly once (pre-compact)"
    # the v1-only token's postings are tombstone-dead
    assert (
        bm25_from_postings(spark, out, ("zzv1junk",)).count() == 0
    ), "revised-away token must not serve"

    compact_posting_lists(spark, out)
    assert not os.path.exists(f"{out}/tombstones"), (
        "compaction must fold tombstones out"
    )
    folded = [
        (r["doc_id"], r["bm25"])
        for r in bm25_from_postings(spark, out, SEARCH_TERMS).collect()
    ]
    assert folded == inline
    # physically dropped, not just masked: no zzv1junk rows remain
    assert (
        spark.read.parquet(f"{out}/postings")
        .filter("tok = 'zzv1junk'")
        .count()
        == 0
    )
    # folded totals equal the true corpus totals exactly
    tot = spark.read.parquet(f"{out}/totals").collect()[0]
    true_tot = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(F.split("text", " "))).alias("t"),
    ).collect()[0]
    assert (tot["n_docs"], tot["n_tokens"]) == (
        true_tot["n"],
        true_tot["t"],
    )


def test_revise_posting_lists_stacked_revisions(
    spark, sf_dir, tmp_path
):
    """Two successive revisions of the SAME doc_ids: only the newest
    version serves (stacked tombstones, latest wins)."""
    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.queries.text import doc_bm25_search
    from se_data_pipeline_spark.sources.layout import (
        bm25_from_postings,
        revise_posting_lists,
        write_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "store")
    write_posting_lists(docs, out, n_buckets=32)

    # revision 1: perturb a slice; revision 2: restore it
    revise_posting_lists(
        spark, _perturbed(docs).filter("doc_id % 3 = 0"), out
    )
    revise_posting_lists(spark, docs.filter("doc_id % 3 = 0"), out)

    inline = [
        (r["doc_id"], r["bm25"])
        for r in doc_bm25_search(spark, sf_dir).collect()
    ]
    served = [
        (r["doc_id"], r["bm25"])
        for r in bm25_from_postings(spark, out, SEARCH_TERMS).collect()
    ]
    assert served == inline
    assert bm25_from_postings(spark, out, ("zzv1junk",)).count() == 0


def test_delete_posting_docs_removes_and_corrects_totals(
    spark, sf_dir, tmp_path
):
    """Deleting planted extra docs restores the original corpus's
    serving exactly (scores depend on n_docs/avgdl/df, so equality
    proves the negative totals correction), pre- and post-compact."""
    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.queries.text import doc_bm25_search
    from se_data_pipeline_spark.sources.layout import (
        bm25_from_postings,
        compact_posting_lists,
        delete_posting_docs,
        write_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents")
    extras = spark.range(5).select(
        (F.col("id") + 90_000_000).alias("doc_id"),
        F.lit(" ".join(SEARCH_TERMS) + " filler filler").alias("text"),
    )
    out = str(tmp_path / "store")
    write_posting_lists(
        docs.select("doc_id", "text").unionByName(extras),
        out,
        n_buckets=32,
    )
    inline = [
        (r["doc_id"], r["bm25"])
        for r in doc_bm25_search(spark, sf_dir).collect()
    ]
    pre = [
        (r["doc_id"], r["bm25"])
        for r in bm25_from_postings(spark, out, SEARCH_TERMS).collect()
    ]
    assert pre != inline, "extras must be score-visible before delete"

    delete_posting_docs(spark, extras.select("doc_id"), out)
    assert [
        (r["doc_id"], r["bm25"])
        for r in bm25_from_postings(spark, out, SEARCH_TERMS).collect()
    ] == inline

    compact_posting_lists(spark, out)
    assert [
        (r["doc_id"], r["bm25"])
        for r in bm25_from_postings(spark, out, SEARCH_TERMS).collect()
    ] == inline
    # deleting an id absent from the store is a no-op
    delete_posting_docs(
        spark,
        spark.createDataFrame([(123456789,)], "doc_id bigint"),
        out,
    )
    assert [
        (r["doc_id"], r["bm25"])
        for r in bm25_from_postings(spark, out, SEARCH_TERMS).collect()
    ] == inline


def test_streaming_posting_revisions_batch_parity(
    spark, sf_dir, tmp_path
):
    """maintain_posting_lists(allow_revisions=True): batch 1 carries
    the full corpus with a perturbed slice, batch 2 RE-EMITS that
    slice with its true text. After the stream drains, serving must
    equal the inline query over the true corpus — the streaming twin
    of revise_posting_lists, batch-for-batch."""
    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.queries.text import doc_bm25_search
    from se_data_pipeline_spark.sources.layout import (
        bm25_from_postings,
        compact_posting_lists,
    )
    from se_data_pipeline_spark.streaming.jobs import (
        maintain_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    _perturbed(docs).coalesce(1).write.mode("append").parquet(src)
    first = set(glob.glob(os.path.join(src, "part-*.parquet")))
    docs.filter("doc_id % 3 = 0").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    now = _time.time()
    for f in glob.glob(os.path.join(src, "part-*.parquet")):
        os.utime(
            f, (now - 100, now - 100) if f in first else (now, now)
        )

    out = str(tmp_path / "store")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = maintain_posting_lists(
        stream,
        out,
        str(tmp_path / "chk"),
        n_buckets=32,
        allow_revisions=True,
    )
    q.awaitTermination(120)
    assert not q.isActive
    assert len(q.recentProgress) >= 2, "expected two micro-batches"

    inline = [
        (r["doc_id"], r["bm25"])
        for r in doc_bm25_search(spark, sf_dir).collect()
    ]
    served = [
        (r["doc_id"], r["bm25"])
        for r in bm25_from_postings(spark, out, SEARCH_TERMS).collect()
    ]
    assert served == inline
    assert bm25_from_postings(spark, out, ("zzv1junk",)).count() == 0

    compact_posting_lists(spark, out)
    assert [
        (r["doc_id"], r["bm25"])
        for r in bm25_from_postings(spark, out, SEARCH_TERMS).collect()
    ] == inline


def test_revise_ivf_vectors_moves_and_deletes(spark, tmp_path):
    """An id revised into a DIFFERENT cell serves from its new cell
    exactly once (the failure the append-only contract could not
    handle: the stale copy sits in a cell a latest-wins read of the
    probed cell never sees); a NULL-embedding revision deletes; and
    compaction folds both physically while probes stay identical."""
    from se_data_pipeline_spark.sources.layout import (
        compact_ivf_index,
        ivf_candidates,
        revise_ivf_vectors,
        write_ivf_index,
    )

    idx = str(tmp_path / "ivf")
    vecs = spark.createDataFrame(
        [
            (i, [10.0, 0.0] if i < 10 else [0.0, 10.0], 0 if i < 10 else 1)
            for i in range(20)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    write_ivf_index(vecs, idx)

    base = {
        r["vec_id"]
        for r in ivf_candidates(spark, idx, [10.0, 0.0], nprobe=1, n=20)
        .collect()
    }
    assert base == set(range(10))

    # move id 15 from cell 1 into cell 0's neighborhood, delete id 3
    revise_ivf_vectors(
        spark,
        spark.createDataFrame(
            [(15, [11.0, 0.0]), (3, None)],
            "vec_id long, embedding array<float>",
        ),
        idx,
    )
    got = ivf_candidates(
        spark, idx, [10.0, 0.0], nprobe=1, n=20
    ).collect()
    ids = [r["vec_id"] for r in got]
    assert sorted(ids) == sorted(ids) and len(ids) == len(set(ids)), (
        "no id may serve twice"
    )
    assert 15 in ids, "revised vector must serve from its NEW cell"
    assert 3 not in ids, "deleted vector must not serve"
    # probing the OLD cell must not surface the stale copy of 15
    old_cell = {
        r["vec_id"]
        for r in ivf_candidates(spark, idx, [0.0, 10.0], nprobe=1, n=20)
        .collect()
    }
    assert 15 not in old_cell, "stale copy must be tombstone-dead"

    compact_ivf_index(spark, idx)
    assert not os.path.exists(f"{idx}/tombstones"), (
        "compaction must fold tombstones out"
    )
    after = {
        r["vec_id"]
        for r in ivf_candidates(spark, idx, [10.0, 0.0], nprobe=1, n=20)
        .collect()
    }
    assert after == set(ids)
    # physically gone: one row for 15 (in cell 0), zero rows for 3
    cells = spark.read.parquet(f"{idx}/cells")
    assert cells.filter("vec_id = 15").count() == 1
    assert cells.filter("vec_id = 3").count() == 0


def test_refresh_ivf_index_respects_tombstones(spark, tmp_path):
    """refresh re-trains from the CURRENT live set: a revised id
    contributes its v2 embedding (not both versions) and a deleted
    id does not resurrect."""
    from se_data_pipeline_spark.sources.layout import (
        ivf_candidates,
        refresh_ivf_index,
        revise_ivf_vectors,
        write_ivf_index,
    )

    idx = str(tmp_path / "ivf")
    vecs = spark.createDataFrame(
        [
            (i, [10.0, 0.0] if i < 10 else [0.0, 10.0], 0 if i < 10 else 1)
            for i in range(20)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    write_ivf_index(vecs, idx)
    revise_ivf_vectors(
        spark,
        spark.createDataFrame(
            [(15, [11.0, 0.0]), (3, None)],
            "vec_id long, embedding array<float>",
        ),
        idx,
    )
    refresh_ivf_index(spark, idx, n_iters=1)

    got = {
        r["vec_id"]
        for r in ivf_candidates(spark, idx, [10.0, 0.0], nprobe=1, n=20)
        .collect()
    }
    assert 15 in got and 3 not in got
    cells = spark.read.parquet(f"{idx}/cells")
    assert cells.filter("vec_id = 15").count() == 1
    assert cells.filter("vec_id = 3").count() == 0


def test_revise_term_stats_corrects_statistics(
    spark, sf_dir, tmp_path
):
    """Stream v1 (perturbed) into a term-stats store, revise the
    perturbed slice back to its true text: folded statistics must
    equal those computed directly from the true corpus — per-term df
    and cf, corpus totals — and the v1-only token must leave the
    vocabulary entirely (doc_freq folds to 0)."""
    from se_data_pipeline_spark.streaming.jobs import (
        maintain_term_stats,
        read_term_stats,
        revise_term_stats,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    _perturbed(docs).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "store")
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = maintain_term_stats(stream, out, str(tmp_path / "chk"))
    q.awaitTermination(120)
    assert not q.isActive

    revise_term_stats(
        spark,
        out,
        old_docs=_perturbed(docs).filter("doc_id % 3 = 0"),
        new_docs=docs.filter("doc_id % 3 = 0"),
    )

    terms, totals = read_term_stats(spark, out)
    got = {
        r["tok"]: (r["doc_freq"], r["coll_freq"])
        for r in terms.collect()
    }
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    want = {
        r["tok"]: (r["df"], r["cf"])
        for r in toks.groupBy("tok")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("cf"),
        )
        .collect()
    }
    assert got == want
    assert "zzv1junk" not in got, "revised-away token must vanish"

    t = totals.collect()[0]
    true_tot = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
    ).crossJoin(
        toks.agg(F.count(F.lit(1)).cast("long").alias("k"))
    ).collect()[0]
    assert (t["n_docs"], t["n_tokens"]) == (
        true_tot["n"],
        true_tot["k"],
    )


def test_delete_bq_vectors_tombstones(spark, tmp_path):
    """BQ deletes are tombstones at the next committed batch id: the
    live read drops the id, compaction folds the code and its
    tombstone away physically, and a later re-emit by the maintenance
    stream (a newer batch) restores it."""
    from se_data_pipeline_spark.sources.layout import (
        bq_candidates,
        compact_bq_index,
        delete_bq_vectors,
        write_bq_index,
    )
    from se_data_pipeline_spark.streaming.jobs import maintain_bq_index

    idx = str(tmp_path / "bq")
    vecs = spark.createDataFrame(
        [(i, [float((i + j) % 5 - 2) for j in range(64)]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    write_bq_index(vecs, idx)
    q_code = 0
    base = {r["vec_id"] for r in bq_candidates(spark, idx, q_code).collect()}
    assert base == set(range(8))

    b = delete_bq_vectors(
        spark, spark.createDataFrame([(3,)], "vec_id long"), idx
    )
    assert b == 0
    got = {r["vec_id"] for r in bq_candidates(spark, idx, q_code).collect()}
    assert got == base - {3}

    compact_bq_index(spark, idx)
    assert {
        r["vec_id"] for r in bq_candidates(spark, idx, q_code).collect()
    } == base - {3}
    store = spark.read.parquet(os.path.join(idx, "codes"))
    assert store.filter("vec_id = 3").count() == 0, (
        "the deleted code must fold away physically"
    )
    assert {
        r["batch_id"] for r in store.select("batch_id").distinct().collect()
    } == {-1}
    assert not os.path.exists(os.path.join(idx, "tombstones"))

    # re-emit id 3 through the maintenance stream (a newer batch): it
    # serves again
    src = str(tmp_path / "src")
    vecs.filter("vec_id = 3").coalesce(1).write.parquet(src)
    maintain_bq_index(
        spark.readStream.schema(vecs.schema).parquet(src),
        idx,
        str(tmp_path / "chk"),
    ).awaitTermination(120)
    assert {
        r["vec_id"] for r in bq_candidates(spark, idx, q_code).collect()
    } == base


def test_posting_store_interrupted_whole_swap_recovers(
    spark, sf_dir, tmp_path
):
    """compact_posting_lists swaps the WHOLE store dir; simulate the
    post-delete / pre-rename crash and prove the serve path finishes
    the rename before its meta pre-check (the refresh_ivf_index
    recovery protocol, applied here)."""
    from se_data_pipeline_spark.functions.text import SEARCH_TERMS
    from se_data_pipeline_spark.queries.text import doc_bm25_search
    from se_data_pipeline_spark.sources.layout import (
        bm25_from_postings,
        write_posting_lists,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "store")
    write_posting_lists(docs, out, n_buckets=32)
    os.rename(out, out + ".compacting")

    inline = [
        (r["doc_id"], r["bm25"])
        for r in doc_bm25_search(spark, sf_dir).collect()
    ]
    served = [
        (r["doc_id"], r["bm25"])
        for r in bm25_from_postings(spark, out, SEARCH_TERMS).collect()
    ]
    assert served == inline
    assert os.path.exists(out) and not os.path.exists(
        out + ".compacting"
    )


# ---------------------------------------------------------------------------
# Positional posting store lifecycle (r10 VERDICT next #1): revise /
# delete tombstones, tombstone-aware phrase reads, compaction, and the
# proximity / AND-ranked query surface — all proven by serve-equality
# against a store rebuilt from the true corpus.
# ---------------------------------------------------------------------------

_PHRASE = ("table", "hash")


def _phrase_rows(spark, out):
    from se_data_pipeline_spark.sources.layout import (
        phrase_from_postings,
    )

    return [
        (r["doc_id"], r["n_hits"])
        for r in phrase_from_postings(spark, out, _PHRASE).collect()
    ]


def test_revise_positional_postings_replaces_exactly_once(
    spark, sf_dir, tmp_path
):
    """Build from a v1 corpus whose perturbed slice carries FAKE
    phrase occurrences (and shifted positions for every true one),
    revise the slice back to its true text: phrase serving must equal
    a store built directly from the true corpus — a surviving stale
    position array would add phantom hits, a lost replacement would
    drop real ones. Stacked revisions and compaction must hold the
    same equality, and compaction must fold tombstones out."""
    from se_data_pipeline_spark.sources.layout import (
        compact_positional_postings,
        revise_positional_postings,
        write_positional_postings,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    # fake phrase hits PREPENDED: every true occurrence also shifts
    v1 = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("table hash table hash "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    out = str(tmp_path / "store")
    write_positional_postings(v1, out, n_buckets=32)

    truth = str(tmp_path / "truth")
    write_positional_postings(docs, truth, n_buckets=32)
    assert _phrase_rows(spark, out) != _phrase_rows(spark, truth), (
        "perturbation must actually change phrase hits"
    )

    b = revise_positional_postings(
        spark, docs.filter("doc_id % 3 = 0"), out
    )
    assert b == 0
    assert _phrase_rows(spark, out) == _phrase_rows(spark, truth)

    # stacked second revision: re-perturb a smaller slice, revise back
    revise_positional_postings(
        spark,
        docs.filter("doc_id % 6 = 0").withColumn(
            "text", F.concat(F.lit("table hash "), F.col("text"))
        ),
        out,
    )
    assert _phrase_rows(spark, out) != _phrase_rows(spark, truth)
    revise_positional_postings(
        spark, docs.filter("doc_id % 6 = 0"), out
    )
    assert _phrase_rows(spark, out) == _phrase_rows(spark, truth)

    compact_positional_postings(spark, out)
    assert _phrase_rows(spark, out) == _phrase_rows(spark, truth)
    assert not os.path.exists(os.path.join(out, "tombstones"))
    assert not os.path.exists(os.path.join(out, "offline_fence"))
    batch_ids = {
        r["batch_id"]
        for r in spark.read.parquet(f"{out}/postings")
        .select("batch_id")
        .distinct()
        .collect()
    }
    assert batch_ids == {-1}


def test_delete_positional_docs_and_uncommitted_invisibility(
    spark, sf_dir, tmp_path
):
    """Deleted docs leave phrase results; a tombstone write whose
    ledger commit point never landed is invisible to serve reads and
    is overwritten when the operation re-runs with the same id."""
    from se_data_pipeline_spark.sources.layout import (
        delete_positional_docs,
        write_positional_postings,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    out = str(tmp_path / "store")
    write_positional_postings(docs, out, n_buckets=32)
    before = _phrase_rows(spark, out)
    assert before, "fixture phrase must hit"
    victims = [d for d, _ in before[:2]]

    # crash window, simulated faithfully to the real write order:
    # the fence claim lands FIRST (claim_offline_batch is every
    # offline writer's first write; since r12 it also marks the
    # partials as offline-owned for the partial-batch guard), then
    # tombstones at batch 0, NO ledger row
    from se_data_pipeline_spark.sources.layout import (
        claim_offline_batch,
    )

    claim_offline_batch(spark, os.path.join(out, "offline_fence"), 0)
    (
        spark.createDataFrame(
            [(v, 0) for v in victims], "doc_id long, batch_id int"
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(os.path.join(out, "tombstones"))
    )
    assert _phrase_rows(spark, out) == before, (
        "uncommitted tombstones leaked into phrase serving"
    )

    ids = spark.createDataFrame(
        [(v,) for v in victims], "doc_id long"
    )
    assert delete_positional_docs(spark, ids, out) == 0
    after = _phrase_rows(spark, out)
    assert set(d for d, _ in after).isdisjoint(victims)


def test_proximity_and_andranked_from_postings(spark, tmp_path):
    """Window counting and conjunctive tf ranking on a corpus small
    enough to enumerate by hand (positions 0-based): proximity counts
    (x, y) pairs with |y-x| <= k and x != y; AND-ranking keeps only
    docs containing every term, ordered by total tf."""
    from se_data_pipeline_spark.sources.layout import (
        and_ranked_from_postings,
        proximity_from_postings,
        write_positional_postings,
    )

    docs = spark.createDataFrame(
        [
            (1, "a x b"),        # |0-2|=2: 1 pair at k=2, 0 at k=1
            (2, "a b a"),        # pairs (0,1),(2,1): 2 at k=1
            (3, "a x x x b"),    # |0-4|=4: 0 at k=2
            (4, "b b a"),        # (2,0),(2,1): 1 at k=1, 2 at k=2
            (5, "a a a"),        # no b: never returned
        ],
        "doc_id long, text string",
    )
    out = str(tmp_path / "store")
    write_positional_postings(docs, out, n_buckets=8)

    prox1 = [
        (r["doc_id"], r["n_hits"])
        for r in proximity_from_postings(
            spark, out, "a", "b", k=1
        ).collect()
    ]
    assert prox1 == [(2, 2), (4, 1)]
    prox2 = [
        (r["doc_id"], r["n_hits"])
        for r in proximity_from_postings(
            spark, out, "a", "b", k=2
        ).collect()
    ]
    assert prox2 == [(2, 2), (4, 2), (1, 1)]

    ranked = [
        (r["doc_id"], r["total_tf"])
        for r in and_ranked_from_postings(
            spark, out, ("a", "b")
        ).collect()
    ]
    # doc2: tf(a)=2+tf(b)=1 -> 3; doc4: 1+2 -> 3; doc1: 2; doc3: 2
    assert ranked == [(2, 3), (4, 3), (1, 2), (3, 2)]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        proximity_from_postings(spark, out, "a", "a", k=1)
    with _pytest.raises(ValueError):
        and_ranked_from_postings(spark, out, ("a", "a"))


def test_maintain_positional_postings_batch_parity_and_fence(
    spark, sf_dir, tmp_path
):
    """Streamed positional maintenance with revisions: batch 1 is the
    perturbed corpus, batch 2 re-emits the perturbed slice's true
    text — after the drain, phrase/proximity serving must equal a
    batch-built store over the true corpus; an offline revision then
    fences the resumed stream."""
    from se_data_pipeline_spark.sources.layout import (
        proximity_from_postings,
        revise_positional_postings,
        write_positional_postings,
    )
    from se_data_pipeline_spark.streaming.jobs import (
        maintain_positional_postings,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    v1 = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("table hash "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    v1.coalesce(1).write.mode("append").parquet(src)
    first = set(glob.glob(os.path.join(src, "part-*.parquet")))
    docs.filter("doc_id % 3 = 0").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    now = _time.time()
    for f in glob.glob(os.path.join(src, "part-*.parquet")):
        os.utime(
            f, (now - 100, now - 100) if f in first else (now, now)
        )

    out = str(tmp_path / "store")
    chk = str(tmp_path / "chk")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = maintain_positional_postings(
        stream, out, chk, n_buckets=32, allow_revisions=True
    )
    q.awaitTermination(120)
    assert not q.isActive and q.exception() is None
    assert len(q.recentProgress) >= 2

    truth = str(tmp_path / "truth")
    write_positional_postings(docs, truth, n_buckets=32)
    assert _phrase_rows(spark, out) == _phrase_rows(spark, truth)

    def _prox(store):
        return [
            tuple(r)
            for r in proximity_from_postings(
                spark, store, "table", "hash", k=3
            ).collect()
        ]

    assert _prox(out) == _prox(truth)

    # offline revision claims id 2 = the resumed stream's next id
    assert (
        revise_positional_postings(
            spark, docs.filter("doc_id % 5 = 0"), out
        )
        == 2
    )
    extra = spark.createDataFrame(
        [(10_000_002, "table hash fence probe")],
        "doc_id long, text string",
    )
    extra.coalesce(1).write.mode("append").parquet(src)
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q2 = maintain_positional_postings(
        stream2, out, chk, n_buckets=32, allow_revisions=True
    )
    with pytest.raises(Exception, match="collides with an offline"):
        q2.awaitTermination(120)
    assert _phrase_rows(spark, out) == _phrase_rows(spark, truth)


def _pairs(spark, store, probe):
    from se_data_pipeline_spark.sources.layout import (
        near_dups_from_index,
    )

    return [
        tuple(r)
        for r in near_dups_from_index(spark, store, probe).collect()
    ]


def test_shingle_index_lifecycle(spark, sf_dir, tmp_path):
    """Materialized near-dup screening index: build perturbed →
    revise → delete → probe must equal a probe against an index
    built directly from the true live corpus, pre- and
    post-compaction; uncommitted tombstones stay invisible."""
    from se_data_pipeline_spark.sources.layout import (
        compact_shingle_index,
        delete_shingle_docs,
        revise_shingle_docs,
        write_shingle_index,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    corpus = docs.filter("source <> 'src18'").select("doc_id", "text")
    probe = docs.filter("source = 'src18'").select("doc_id", "text")
    deleted = docs.filter("source = 'src13'").select("doc_id")

    v1 = corpus.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" zzj0 zzj1 zzj2 zzj3 zzj4")),
        ).otherwise(F.col("text")),
    )
    out = str(tmp_path / "idx")
    write_shingle_index(v1, out)
    truth = str(tmp_path / "truth")
    write_shingle_index(
        docs.filter("source NOT IN ('src18', 'src13')").select(
            "doc_id", "text"
        ),
        truth,
    )

    revise_shingle_docs(spark, corpus.filter("doc_id % 3 = 0"), out)
    delete_shingle_docs(spark, deleted, out)
    want = _pairs(spark, truth, probe)
    assert want, "fixture must produce at least one near-dup pair"
    assert _pairs(spark, out, probe) == want

    # crash window: a tombstone batch with no ledger commit row must
    # not change the screen
    (
        probe.select("doc_id")
        .limit(1)
        .withColumn("batch_id", F.lit(2))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(os.path.join(out, "tombstones"))
    )
    assert _pairs(spark, out, probe) == want

    compact_shingle_index(spark, out)
    assert _pairs(spark, out, probe) == want
    assert not os.path.exists(os.path.join(out, "tombstones"))
    assert not os.path.exists(os.path.join(out, "offline_fence"))
    assert {
        r["batch_id"]
        for r in spark.read.parquet(f"{out}/postings")
        .select("batch_id")
        .distinct()
        .collect()
    } == {-1}


def test_maintain_shingle_index_batch_parity(spark, sf_dir, tmp_path):
    """Streamed index maintenance with a revision micro-batch must
    screen identically to the batch-built true index."""
    from se_data_pipeline_spark.sources.layout import (
        write_shingle_index,
    )
    from se_data_pipeline_spark.streaming.jobs import (
        maintain_shingle_index,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    corpus = docs.filter("source <> 'src18'").select("doc_id", "text")
    probe = docs.filter("source = 'src18'").select("doc_id", "text")

    src = str(tmp_path / "src")
    os.makedirs(src)
    v1 = corpus.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" zzj0 zzj1 zzj2 zzj3 zzj4")),
        ).otherwise(F.col("text")),
    )
    v1.coalesce(1).write.mode("append").parquet(src)
    first = set(glob.glob(os.path.join(src, "part-*.parquet")))
    corpus.filter("doc_id % 3 = 0").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    now = _time.time()
    for f in glob.glob(os.path.join(src, "part-*.parquet")):
        os.utime(
            f, (now - 100, now - 100) if f in first else (now, now)
        )

    out = str(tmp_path / "idx")
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = maintain_shingle_index(
        stream, out, str(tmp_path / "chk"), allow_revisions=True
    )
    q.awaitTermination(120)
    assert not q.isActive and q.exception() is None
    assert len(q.recentProgress) >= 2

    truth = str(tmp_path / "truth")
    write_shingle_index(corpus, truth)
    want = _pairs(spark, truth, probe)
    assert _pairs(spark, out, probe) == want


def test_ivf_uncommitted_revision_invisible(spark, tmp_path):
    """r11 IVF ledger harmonization: a revision that crashed after
    its replacement-row write but before its ledger commit must be
    invisible to probes (previously both versions of a revised
    vector served until the re-run); the re-run reuses the id and
    converges."""
    from se_data_pipeline_spark.sources.layout import (
        ivf_candidates,
        revise_ivf_vectors,
        write_ivf_index,
    )

    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.9, 0.1], 0),
            (2, [0.0, 1.0], 1),
            (3, [0.1, 0.9], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    idx = str(tmp_path / "ivf")
    write_ivf_index(vecs, idx)

    def probe():
        return [
            (r["vec_id"], r["cell"])
            for r in ivf_candidates(
                spark, idx, [1.0, 0.0], nprobe=10, n=10
            ).collect()
        ]

    before = probe()

    # crash window, simulated faithfully to the real write order:
    # the fence claim lands FIRST (the r12 partial-batch guard
    # exempts offline-claimed ids so the re-run can converge), then
    # the replacement row for vec 1 (moved near cell 1) lands at
    # batch 0; tombstones + ledger never do
    from se_data_pipeline_spark.sources.layout import (
        claim_offline_batch,
    )

    claim_offline_batch(spark, f"{idx}/offline_fence", 0)
    (
        spark.createDataFrame(
            [(1, [0.0, 1.0], 1, 0)],
            "vec_id long, embedding array<float>, cell int, batch_id int",
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell", "batch_id")
        .parquet(f"{idx}/cells")
    )
    assert probe() == before, (
        "uncommitted replacement rows leaked into the probe"
    )

    # re-run reuses batch 0 (ledger never committed) and converges:
    # vec 1 now serves its new embedding exactly once
    b = revise_ivf_vectors(
        spark,
        spark.createDataFrame(
            [(1, [0.0, 1.0])], "vec_id long, embedding array<float>"
        ),
        idx,
    )
    assert b == 0
    after = probe()
    assert len([v for v, _ in after if v == 1]) == 1
    assert after != before


def test_minhash_index_lifecycle_and_stream_parity(
    spark, sf_dir, tmp_path
):
    """Store #6 (r12): the MinHash band index's batch build, stream
    maintenance, revision, delete, and compaction must all converge
    to the same candidate screen as a fresh rebuild — the store is
    pure composition of the shared lifecycle helpers, so this test
    is really pinning THEM on a sixth layout."""
    import glob as _glob
    import time as _time

    from se_data_pipeline_spark.sources.layout import (
        compact_minhash_index,
        delete_minhash_docs,
        lsh_candidates_from_index,
        revise_minhash_docs,
        write_minhash_index,
    )
    from se_data_pipeline_spark.streaming.jobs import (
        maintain_minhash_index,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    probe = docs.filter("doc_id % 10 = 7")
    corpus = docs.filter("doc_id % 10 <> 7")

    def _pairs(store: str) -> list:
        return [
            (r["new_doc"], r["corpus_doc"])
            for r in lsh_candidates_from_index(
                spark, store, probe
            ).collect()
        ]

    # truth: batch-built store over the final corpus state
    final = corpus.filter("doc_id % 9 <> 4")  # post-delete
    truth_store = str(tmp_path / "truth")
    write_minhash_index(final, truth_store)
    want = _pairs(truth_store)

    # lifecycle store: perturbed build -> stream 2nd half -> revise
    # -> delete -> screen
    half1 = corpus.filter("doc_id % 2 = 0")
    half2 = corpus.filter("doc_id % 2 = 1")
    v1 = half1.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" zzmh zzmh2 zzmh3")),
        ).otherwise(F.col("text")),
    )
    store = str(tmp_path / "store")
    write_minhash_index(v1, store)

    src = str(tmp_path / "src")
    half2.filter("doc_id % 4 = 1").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    first = set(_glob.glob(os.path.join(src, "part-*.parquet")))
    half2.filter("doc_id % 4 = 3").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    now = _time.time()
    for f in _glob.glob(os.path.join(src, "part-*.parquet")):
        os.utime(
            f, (now - 100, now - 100) if f in first else (now, now)
        )
    stream = (
        spark.readStream.schema(half2.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = maintain_minhash_index(stream, store, str(tmp_path / "chk"))
    q.awaitTermination(180)
    assert q.exception() is None

    revise_minhash_docs(
        spark, half1.filter("doc_id % 3 = 0"), store
    )
    delete_minhash_docs(
        spark, corpus.filter("doc_id % 9 = 4").select("doc_id"), store
    )
    assert _pairs(store) == want

    # compaction folds to one base and preserves the screen
    compact_minhash_index(spark, store)
    batch_dirs = _glob.glob(os.path.join(store, "postings", "batch_id=*"))
    assert [os.path.basename(d) for d in batch_dirs] == ["batch_id=-1"]
    assert not os.path.isdir(os.path.join(store, "tombstones"))
    assert _pairs(store) == want


def test_bm25_serves_nothing_once_every_doc_is_deleted(spark, tmp_path):
    """A posting store whose every document was deleted folds its
    totals to n_docs = n_tokens = 0. A BM25 serve of terms whose
    postings are all tombstoned returns no row, as a rebuilt empty
    corpus does, instead of evaluating avgdl = 0 / 0."""
    from se_data_pipeline_spark.sources.layout import (
        bm25_from_postings,
        delete_posting_docs,
        write_posting_lists,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma gamma"), (3, "delta")],
        "doc_id bigint, text string",
    )
    out = str(tmp_path / "store")
    write_posting_lists(docs, out, n_buckets=8)
    assert bm25_from_postings(spark, out, ("beta", "delta")).collect()
    delete_posting_docs(spark, docs.select("doc_id"), out)
    assert bm25_from_postings(spark, out, ("beta", "delta")).collect() == []
    empty = str(tmp_path / "empty")
    write_posting_lists(docs.limit(0), empty, n_buckets=8)
    assert bm25_from_postings(spark, empty, ("beta",)).collect() == []
